"""Self-tests of the benchmark itself, run with

    python3 perfbench/run.py --selftest

1. The JVM-side checks of the timing catalog decorator (perfbench.SelfTest):
   every Catalog method forwarded, answers and exceptions unchanged, the
   migrate-from-hadoop guard intact.
2. Each workload's traced run emits only per-layer names that
   BENCHMARK.json lists, and together the workloads measure every one of
   them; an untraced run prints exactly the end-to-end names.
3. A forced failure is counted: `failed` >= 1, `correct` false and
   `ok_frac` below 1.

Takes a few minutes: it runs every workload once at its minimum size.
"""
import json
import os
import shutil
import subprocess


def main(run, classpath, build_dir, bench):
    failures = []

    def check(what, ok):
        print(f"{'PASS' if ok else 'FAIL'} {what}", flush=True)
        if not ok:
            failures.append(what)

    scratch = os.path.join(build_dir, "selftest")
    shutil.rmtree(scratch, ignore_errors=True)
    r = subprocess.run(["java", "-XX:-UsePerfData", "--add-opens", "java.base/sun.nio.ch=ALL-UNNAMED",
                        "--add-opens", "java.base/java.nio=ALL-UNNAMED",
                        f"-Djava.io.tmpdir={build_dir}", "-cp", classpath,
                        "perfbench.SelfTest", scratch],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                       stdin=subprocess.DEVNULL, timeout=170)
    print(r.stdout, end="")
    check("decorator self-test", r.returncode == 0)

    layer_names = {m["name"] for m in bench["per_layer"]}
    e2e_names = [m["name"] for m in bench["end_to_end"]]
    measured = set()
    for w in bench["workloads"]:
        out, record = run(w["name"], 7, 0, 1)
        extra = set(record["measured"]) - layer_names
        check(f"{w['name']}: traced names all listed in BENCHMARK.json {sorted(extra)}",
              not extra and set(out["metrics"]) == layer_names)
        check(f"{w['name']}: traced run correct", out["correct"])
        measured |= set(record["measured"])
    check(f"every per-layer name is measured by some workload "
          f"{sorted(layer_names - measured)}", layer_names <= measured)

    out, _ = run("write_mix", 7, 0, 0, force_fail=True)
    check("untraced names equal the end-to-end list", list(out["metrics"]) == e2e_names)
    check("forced failure counted: failed >= 1, correct false, ok_frac < 1",
          out["failed"] >= 1 and not out["correct"]
          and out["metrics"]["ok_frac"]["value"] < 1.0)
    print(json.dumps({"selftest_failures": failures}))
    return 1 if failures else 0
