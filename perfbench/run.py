#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the benchmark from source,
generates the workload's inputs from the seed, runs the workload in one
JVM, checks its outputs and prints the metrics as one JSON line.

    python3 perfbench/run.py --workload {migrate,query_mix,write_mix} \
        --seed N --seconds S --trace {0,1}
    python3 perfbench/run.py --selftest

Run from the repository root. With --trace 0 the metrics are the
end-to-end ones in BENCHMARK.json; with --trace 1 the per-layer ones.
Everything the run writes stays under .bench_build/ in the checkout.
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

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_CP = os.path.join(BUILD, "engine.classpath")
JVM_TIMEOUT_S = 160
QUERY_SCALE = 0.01
WRITE_SCALE = 0.005
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import box  # noqa: E402
import gen_data  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of every input of the two builds, so a changed source tree
    triggers a rebuild and an unchanged one does not."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src/main", os.path.relpath(HERE, ROOT)]
    for r in roots:
        p = os.path.join(ROOT, r)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(p)
            for f in fs if "target" not in d.split(os.sep) and "project/project" not in d)
        for f in files:
            if f.endswith((".scala", ".sbt", ".properties", ".java")) or "META-INF" in f:
                h.update(f.encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"[perfbench] {need} not found: run from the repository root")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    t0 = time.time()
    # keep sbt's scratch files in the checkout too
    sbt_tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    env = dict(os.environ, TMPDIR=sbt_tmp,
               SBT_OPTS=f"-Djava.io.tmpdir={sbt_tmp} -Djna.tmpdir={sbt_tmp}",
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")

    def sbt(cwd, *tasks):
        r = subprocess.run(["sbt", "-batch", *tasks], cwd=cwd, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, stdin=subprocess.DEVNULL,
                           env=env, timeout=840)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit(f"[perfbench] build failed in {cwd}")
        return r.stdout

    # the root build compiles the engine and prints its runtime classpath
    # (engine classes plus the Spark jars); this directory's build
    # compiles against it
    out = sbt(ROOT, "export Runtime/fullClasspath")
    cp = [ln for ln in out.splitlines() if ln and not ln.startswith("[")][-1]
    with open(ENGINE_CP, "w") as f:
        f.write(cp)
    sbt(HERE, "compile")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")


def classpath():
    """The benchmark's classes, the engine's class directories, then each
    jar directory of the engine classpath as one `dir/*` entry: the form
    the engine's own launch lines use. The same jars listed one by one
    ran `query_mix` slower: 8.4 s against 7.7 s a pass, median of four
    alternating runs each."""
    with open(ENGINE_CP) as f:
        entries = f.read().strip().split(os.pathsep)
    dirs = [e for e in entries if not e.endswith(".jar")]
    jar_dirs = list(dict.fromkeys(os.path.join(os.path.dirname(e), "*")
                                  for e in entries if e.endswith(".jar")))
    return os.pathsep.join(
        [os.path.join(BUILD, "perfbench-target", "scala-2.13", "classes")] + dirs + jar_dirs)


# ---------------------------------------------------------------- run

def run_jvm(workload, seed, seconds, trace, data, work, force_fail):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and young generation keep the peak resident set from
    # depending on when the collector decides to grow the heap
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-cp", classpath(), "perfbench.Main",
            workload, str(seed), str(seconds), str(trace), data, work, out]
    if force_fail:
        cmd.append("--force-fail")
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("[perfbench] workload timed out")
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"[perfbench] workload JVM exited with {code}")
    with open(out) as f:
        return json.load(f)


def oracle_failures(data, query_out):
    """Compare every query output with the DuckDB oracle through the
    repository's own checker; returns the names that did not PASS."""
    checker = os.path.join(ROOT, "scripts", "check.py")
    r = subprocess.run([sys.executable, checker, data, query_out], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, stdin=subprocess.DEVNULL,
                       timeout=170)
    passed = {ln.split()[1] for ln in r.stdout.splitlines() if ln.startswith("PASS ")}
    with open(os.path.join(query_out, "oracle_sql.json")) as f:
        names = json.load(f).keys()
    bad = sorted(n for n in names if n not in passed)
    for ln in r.stdout.splitlines():
        if ln.startswith("FAIL"):
            log(ln[:300])
    return bad


def pct(values, q):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def pass_metrics(passes):
    ops = [o["s"] for p in passes for o in p["ops"]]
    return {
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "op_p50_s": statistics.median(ops),
        "op_p90_s": pct(ops, 0.9),
    }


def metrics(res, trace, disturbance, bench):
    """Returns ({name: {value, unit}} for every listed metric, the names
    this run measured itself)."""
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    attempted = max(1, int(res["attempted"]))
    if not trace:
        vals = dict(pass_metrics(res["passes"]))
        vals["setup_s"] = statistics.median(res["setup_s"])
        vals["peak_rss_mb"] = res["peak_rss_mb"]
        vals["ok_frac"] = 1.0 - res["failed"] / attempted
        names = [m["name"] for m in bench["end_to_end"]]
    else:
        vals = {k: float(v) for k, v in res["layer"].items()}
        if res["traced_passes"]:
            plain, traced = pass_metrics(res["passes"]), pass_metrics(res["traced_passes"])
            for k in plain:
                vals[f"trace.overhead.{k}"] = traced[k] - plain[k]
        vals.update(disturbance)
        names = [m["name"] for m in bench["per_layer"]]
        unknown = sorted(set(vals) - set(names))
        if unknown:
            raise SystemExit(f"[perfbench] metrics missing from BENCHMARK.json: {unknown}")
    measured = sorted(vals)
    if trace:
        # a layer the workload never enters did no work
        vals = {n: vals.get(n, 0.0) for n in names}
    missing = [n for n in names if n not in vals]
    if missing:
        raise SystemExit(f"[perfbench] metrics not measured: {missing}")
    return {n: {"value": vals[n], "unit": units[n]} for n in names}, measured


def prune_runs(keep=6):
    runs = os.path.join(BUILD, "runs")
    if not os.path.isdir(runs):
        return
    dirs = sorted((os.path.join(runs, d) for d in os.listdir(runs)), key=os.path.getmtime)
    for d in dirs[:-keep]:
        shutil.rmtree(d, ignore_errors=True)


def run(workload, seed, seconds, trace, force_fail=False):
    bench = spec()
    if workload not in {w["name"] for w in bench["workloads"]}:
        raise SystemExit(f"[perfbench] unknown workload {workload}")
    build()
    prune_runs()
    work = os.path.join(BUILD, "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(work, "data")
    if workload == "query_mix":
        gen_data.generate(data, QUERY_SCALE, seed)
    elif workload == "write_mix":
        gen_data.generate(data, WRITE_SCALE, seed, {"lineitem"})

    before = box.sample()
    res = run_jvm(workload, seed, seconds, trace, data, work, force_fail)
    after = box.sample()
    disturbance = box.assess(before, after)
    if disturbance["box.disturbed"]:
        log(f"DISTURBED run: {json.dumps(disturbance)}")

    failures = list(res["failures"])
    if workload == "query_mix":
        bad = oracle_failures(data, os.path.join(work, "query_out"))
        already = set(res["extra"].get("failed_queries", []))
        fresh = [b for b in bad if b not in already]
        res["failed"] += len(fresh)
        failures += [f"{b}: differs from the DuckDB oracle" for b in fresh]
    for f in failures[:20]:
        log(f"failure: {f}")

    values, measured = metrics(res, trace, disturbance, bench)
    out = {
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": values,
    }
    record = {"out": out, "measured": measured, "disturbance": disturbance,
              "failures": failures, "extra": res["extra"]}
    with open(os.path.join(work, "metrics.json"), "w") as f:
        json.dump(record, f)
    # keep the record and the spans; drop inputs and warehouses
    for d in os.listdir(work):
        if os.path.isdir(os.path.join(work, d)):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    return out, record


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--force-fail", action="store_true",
                    help="inject one failing operation (self-test of the failure count)")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        import selftest
        build()
        sys.exit(selftest.main(run, classpath(), BUILD, spec()))
    if not a.workload:
        ap.error("--workload is required")
    out, _ = run(a.workload, a.seed, a.seconds, a.trace, a.force_fail)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
