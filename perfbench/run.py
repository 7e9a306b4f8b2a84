#!/usr/bin/env python3
"""Hypermap ETL benchmark: runs one workload and prints its metrics.

    python3 perfbench/run.py --workload pipeline|gates \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run compiles the program and the
benchmark (see build.py). Every metric is printed as `name value unit`; the
last line is one JSON object with `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics of BENCHMARK.json with `--trace 0`, its
per-layer metrics with `--trace 1`). The exit code is non-zero when an output
check fails or the run cannot complete. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["pipeline", "gates"]
RUN_TIMEOUT_S = 170
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def java_cmd(classes, work, args):
    cmd = ["java", "-XX:-UsePerfData"]  # no hsperfdata file outside the checkout
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g", "-Xss16m",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/spark",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classes + ":" + build.classpath(),
        "perfbench.Main", "--work", work, "--result", os.path.join(work, "result.json"),
    ]
    return cmd + args


def run_java(cmd, work, env):
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None, log_path
    return p.returncode, log_path


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS + ["dump-gates"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true", help="check that the output checks fail on corrupted results "
                    "and that inputs are a pure function of the seed")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail(f"{root} holds no program sources (src/main/scala/graft): run from the root of a checkout")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes = build.build(root)

    name = "selftest" if a.selftest else f"{a.workload}-{a.seed}-{a.trace}"
    work = os.path.join(root, ".bench_build", "work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark", "index"):
        os.makedirs(os.path.join(work, d))
    env = dict(os.environ)
    env["GRAFT_INDEX_DIR"] = os.path.join(work, "index")
    data = os.path.join(root, "perfbench", "gates")
    args = ["--data", data]
    if a.selftest:
        args += ["--selftest"]
    else:
        args += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace)]
    code, log_path = run_java(java_cmd(classes, work, args), work, env)
    result_path = os.path.join(work, "result.json")
    logs = os.path.join(root, ".bench_build", "logs")
    os.makedirs(logs, exist_ok=True)
    shutil.copy(log_path, os.path.join(logs, name + ".log"))
    res = None
    if os.path.exists(result_path):
        with open(result_path) as f:
            res = json.load(f)
    spans = os.path.join(work, "spans.json")
    if os.path.exists(spans):
        tdir = os.path.join(root, ".bench_build", "trace")
        os.makedirs(tdir, exist_ok=True)
        shutil.move(spans, os.path.join(tdir, f"{a.workload}-seed{a.seed}.spans.json"))
        print(f"span file: .bench_build/trace/{a.workload}-seed{a.seed}.spans.json")
    shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s; log in .bench_build/logs/{name}.log", 3)
    if res is None:
        fail(f"run ended ({code}) without a result; log in .bench_build/logs/{name}.log", 3)
    if a.selftest:
        with open(os.path.join(logs, name + ".log")) as f:
            sys.stdout.writelines(line for line in f if line.startswith(("PASS", "FAIL")))
    if a.selftest or a.workload not in {w["name"] for w in spec["workloads"]}:
        # the self-test, and workloads run by hand only (see README.md)
        for k, v, u in res.get("info", []):
            print(f"{k} {v} {u}")
        for k, v in sorted(res.get("metrics", {}).items()):
            print(f"{k} {v}")
        print(json.dumps({k: v for k, v in res.items() if k != "info"}))
        sys.exit(code)

    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    got = res["metrics"]
    if a.trace:
        # a layer the workload does not reach did no work: it reads 0
        unreached = sorted(set(units) - set(got))
        got.update({k: 0.0 for k in unreached})
        print(f"layers not reached by {a.workload}: {len(unreached)} per-layer metrics read 0")
    missing = sorted(set(units) - set(got))
    extra = sorted(set(got) - set(units))
    bad = sorted(k for k, v in got.items() if not isinstance(v, (int, float)))
    if missing or extra or bad:
        fail(f"metric set does not match BENCHMARK.json: missing={missing} extra={extra} non-numeric={bad}", 3)
    for k, v, u in res["info"]:
        print(f"{k} {v} {u}")
    for e in res["errors"]:
        print(f"CHECK FAILED: {e}")
    for e in res["failures"]:
        print(f"FAILED OP: {e}")
    metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in declared}
    for k, m in metrics.items():
        print(f"{k} {m['value']} {m['unit']}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    sys.exit(0 if res["correct"] and code == 0 else 1)


if __name__ == "__main__":
    main()
