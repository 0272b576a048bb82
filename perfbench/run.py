#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload ingest_serve --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. It builds the program and the benchmark
from source (once per source state, into `.bench_build/jvm-<source hash>/`,
or under `$CARGO_TARGET_DIR` when set) and records each workload's JVM
class-data archive there in an untimed run; then it generates the workload's inputs from the
seed, runs one JVM that sets the workload up, measures it for `--seconds`
and checks its outputs, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (`--trace 0`) or its
per-layer metrics (`--trace 1`, a separate run that also writes spans).
The full result, with provenance, is kept under `.bench_build/results/`;
`perfbench/report.py` prints and compares those files.
"""
import argparse
import ast
import contextlib
import hashlib
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

# Workload sizes. ingest_serve takes two from the reference: the LRU
# cache holds 10 partitions (neighborhood_server.py:25) and a search
# request carries one query (its POST /search). Every other ingest_serve
# size is an unmeasured assumption: corpus size, nlist (3.2x the cache), 8
# families of 4 clusters, Zipf s = 1.0 over families, stratified per cycle
# (the two hottest, 8 partitions, fit the cache; the third does not),
# nprobe 4, 12 cached and 1 pruned search per append, 300-row appends of
# which 20% are already stored. The query-suite panel is fixed: the seed
# draws the tables and the order in which the panel runs (see
# perfbench/README.md).
WORKLOADS = {
    "ingest_serve": {
        "dim": 512, "k": 10, "n": 5000, "nlist": 32, "super_clusters": 8,
        "spread": 1.0, "queries": 160, "zipf_s": 1.0, "batch": 1,
        "nprobe": 4, "cache_partitions": 10, "searches_per_cycle": 12,
        "pruned_per_cycle": 1, "warmup_searches": 2, "batches": 12,
        "batch_rows": 300, "dup_share": 0.2, "recall_floor": 0.75},
    "query_suite": {"sf": 0.01, "panel": ",".join([
        "q16_monthly_revenue", "text_pmi", "profile_moments",
        "dedup_minhash_lsh", "graph_pagerank", "knn_bruteforce",
        "eval_auc", "mview_diff"])},
}
# per-layer metrics of layers a workload never touches: they did no work
UNUSED_LAYERS = {
    "ingest_serve": ("queries.", "suite."),
    "query_suite": ("annivf.", "servingcache.", "ingest.", "ann."),
}
SETUP_REPS = 2
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 160


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    """Everything the build compiles: the program and the benchmark."""
    yield f"{root}/perfbench/jvm/build.sbt"
    yield f"{root}/perfbench/jvm/project/build.properties"
    for base in ("src/main/scala", "perfbench/jvm/src"):
        for dirpath, dirnames, files in os.walk(os.path.join(root, base)):
            dirnames.sort()
            for f in sorted(files):
                yield os.path.join(dirpath, f)


def fingerprint(root):
    h = hashlib.sha256()
    for p in source_files(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, out):
    """Compile and package once per source state, into a directory of its
    own (so builds of two source states can share `out`), and record the
    JVM class-data archive of every workload there. Returns that directory
    and the runtime classpath (jars only, as the archive requires)."""
    fp = fingerprint(root)
    jdir = f"{out}/jvm-{fp[:16]}"
    cp_file = f"{jdir}/classpath"
    if not os.path.exists(cp_file):
        if not os.environ.get("SPARK_HOME"):
            fail("SPARK_HOME must name the Spark installation to compile against")
        os.makedirs(jdir, exist_ok=True)
        env = dict(os.environ, PERFBENCH_TARGET=os.path.abspath(f"{jdir}/target"))
        log = f"{jdir}/build.log"
        with open(log, "w") as lf:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "package",
                 "export Runtime/fullClasspathAsJars"],
                cwd=f"{root}/perfbench/jvm", env=env, stdout=subprocess.PIPE,
                stderr=lf, text=True, timeout=600)
        lines = [ln for ln in r.stdout.splitlines() if ".jar" in ln and
                 not ln.startswith("[")]
        if r.returncode != 0 or not lines:
            with open(log, "a") as lf:
                lf.write(r.stdout)
            fail(f"build failed (exit {r.returncode}); see {log}")
        with open(cp_file, "w") as f:
            f.write(lines[-1].strip())
    with open(cp_file) as f:
        cp = f.read()
    for workload in sorted(WORKLOADS):
        record_class_data(cp, jdir, workload)
    return jdir, cp


def record_class_data(cp, jdir, workload):
    """JVM start-up (class loading) is a large share of a short run, so
    every measured run maps an application class-data archive of its
    workload. The archive is recorded once per build by an extra run of
    the workload on seed-0 inputs (no measured cycles), whose result is
    discarded: every measured run then loads classes the same way."""
    jsa = f"{jdir}/{workload}.jsa"
    if os.path.exists(jsa):
        return
    run_dir = f"{jdir}/record-{workload}-{os.getpid()}"
    try:
        rc, _ = run_workload(cp, workload, run_dir, seed=0, seconds=0,
                             trace=0, setup_reps=1, trace_out=os.devnull,
                             class_data=f"-XX:ArchiveClassesAtExit={jsa}.tmp")
        if rc != 0 or not os.path.exists(f"{jsa}.tmp"):
            if os.path.exists(f"{jsa}.tmp"):
                os.remove(f"{jsa}.tmp")
            shutil.copy(f"{run_dir}/jvm.log", f"{jdir}/record-{workload}.log")
            fail(f"recording the class-data archive of {workload} failed; "
                 f"see {jdir}/record-{workload}.log")
        os.replace(f"{jsa}.tmp", jsa)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def commit(root):
    """The git commit of the checkout, or a hash of its sources when the
    checkout is not a git repository."""
    if os.path.isdir(f"{root}/.git"):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                           capture_output=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    return "source-sha256:" + fingerprint(root)


def generate(workload, seed, data):
    spec = WORKLOADS[workload]
    if workload == "query_suite":
        gen.write_tables(data, spec["sf"], seed)
        return {}
    return gen.write_ann(data, seed, spec)


def jvm_command(cp, workload, result, params, tmp, class_data):
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return (["java", class_data] + opens + [
        f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={tmp}", "-Dderby.system.home=" + tmp,
        "-cp", cp, "graft.perfbench.Main", workload, result] +
        [f"{k}={v}" for k, v in params.items()])


def run_workload(cp, workload, run_dir, seed, seconds, trace, setup_reps,
                 trace_out, class_data):
    """Generate the inputs under `run_dir` and run the workload's JVM.
    Returns its exit code (None on a timeout) and the input generation
    time; the JVM writes `run_dir/result.json` and logs to
    `run_dir/jvm.log`."""
    data, work, tmp = f"{run_dir}/data", f"{run_dir}/work", f"{run_dir}/tmp"
    for d in (data, work, tmp):
        os.makedirs(d, exist_ok=True)
    t0 = time.perf_counter()
    meta = generate(workload, seed, data)
    gen_s = time.perf_counter() - t0
    params = {k: v for k, v in WORKLOADS[workload].items() if k != "sf"}
    params.update(meta)
    params.update(data=data, work=work, seed=seed,
                  cpus=len(os.sched_getaffinity(0)), seconds=seconds,
                  trace=trace, setup_reps=setup_reps, trace_out=trace_out)
    cmd = jvm_command(cp, workload, f"{run_dir}/result.json", params, tmp,
                      class_data)
    return run_jvm(cmd, f"{run_dir}/jvm.log", run_dir), gen_s


def run_jvm(cmd, log, cwd):
    """Run the JVM to completion; None if it timed out. The JVM never
    outlives this process: on a timeout, an error or a termination signal
    its process group is killed and reaped."""
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                cwd=cwd, start_new_session=True)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def oracle_check(root, tables, results_dir):
    """Compares the kept query-suite results with their DuckDB oracles
    through the repository's own correctness gate (`tools/selfcheck.py`),
    so the comparison rule lives in one place. Returns {query: reason}
    for every failing query."""
    sys.path.insert(0, f"{root}/tools")
    import selfcheck
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = selfcheck.main(tables, results_dir)
    bad = {}
    for line in out.getvalue().splitlines():
        if line.startswith("queries with oracle but no output:"):
            for name in ast.literal_eval(line.split(":", 1)[1].strip()):
                bad[name] = "no output"
            continue
        if line == "ALL OK" or line.endswith(" FAILURES"):
            continue
        name, _, status = line.partition(" ")
        status = status.strip()
        if status.startswith(("FAIL", "ORACLE SQL ERROR")) or "EMPTY" in status:
            bad[name] = status
    if rc != 0 and not bad:
        bad["selfcheck"] = out.getvalue().strip().splitlines()[-1]
    return bad


def main():
    # a terminated run unwinds (stopping its JVM, deleting its inputs)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(f"{root}/build.sbt") and
            os.path.isdir(f"{root}/src/main/scala/graft") and
            os.path.isfile(f"{root}/tools/selfcheck.py")):
        fail("run from the root of a graft checkout (build.sbt, "
             "src/main/scala/graft or tools/selfcheck.py not found)")
    with open(f"{root}/BENCHMARK.json") as f:
        bench = json.load(f)
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    jdir, cp = build(root, out)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = f"{out}/runs/{tag}-{os.getpid()}"
    results = f"{out}/results"
    os.makedirs(results, exist_ok=True)
    try:
        rc, gen_s = run_workload(
            cp, a.workload, run_dir, a.seed, a.seconds, a.trace, SETUP_REPS,
            f"{results}/{tag}.trace.jsonl",
            f"-XX:SharedArchiveFile={jdir}/{a.workload}.jsa")
        result_file = f"{run_dir}/result.json"
        if rc != 0 or not os.path.exists(result_file):
            shutil.copy(f"{run_dir}/jvm.log", f"{results}/{tag}.jvm.log")
            fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}"
                 f"; see {results}/{tag}.jvm.log")
        with open(result_file) as f:
            res = json.load(f)

        failed, attempted = res["failed"], res["attempted"]
        failures = list(res["failures"])
        if a.workload == "query_suite":
            bad = oracle_check(root, f"{run_dir}/data", f"{run_dir}/work/suite")
            samples = res["notes"].get("samples", {})
            for name, why in sorted(bad.items()):
                failed += samples.get(name, 1)
                failures.append(f"{name}: {why}")

        e2e = res["end_to_end"]
        e2e["setup_s"] = {"value": gen_s + e2e.pop("setup_jvm_s")["value"],
                          "unit": "s"}
        layers = res["per_layer"]
        for m in bench["per_layer"]:
            if m["name"].startswith(UNUSED_LAYERS[a.workload]):
                layers.setdefault(m["name"], {"value": 0.0, "unit": m["unit"]})
        section = layers if a.trace else e2e
        wanted = bench["per_layer" if a.trace else "end_to_end"]
        missing = [m["name"] for m in wanted if m["name"] not in section]
        if missing:
            fail(f"metrics not measured: {missing}")
        metrics = {m["name"]: section[m["name"]] for m in wanted}
        why = {w["name"]: w["why"] for w in bench["workloads"]}
        full = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "seconds": a.seconds, "correct": failed == 0 and attempted > 0,
            "attempted": attempted, "failed": failed, "failures": failures[:20],
            "end_to_end": e2e, "per_layer": layers,
            "samples": res["samples"], "latencies_s": res["latencies_s"],
            "notes": res["notes"], "heap_readings_mb": res["heap_readings_mb"],
            "setup": {"generate_s": gen_s, "session_s": res["session_s"],
                      "repetitions_s": res["setup_rep_s"]},
            "provenance": dict(res["provenance"], seed=a.seed,
                               commit=commit(root), why=why[a.workload],
                               sizes=WORKLOADS[a.workload],
                               setup_reps=SETUP_REPS),
        }
        with open(f"{results}/{tag}.json", "w") as f:
            json.dump(full, f, indent=1)
        print(json.dumps({"correct": full["correct"], "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
