"""Seeded benchmark of the graft warehouse engine.

    python3 perfbench/run.py --workload warehouse_dml --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py series OUT_DIR --seeds 1-10 [--trace 1]
    python3 perfbench/run.py compare PARENT_DIR CHANGE_DIR

A run builds the program if its sources changed (perfbench/build.py),
generates the workload's inputs from the seed (perfbench/gen.py), runs the
JVM driver (perfbench/src) once, checks every op's output against a
DuckDB reference (perfbench/check.py), prints a report with every metric,
its unit and sample count, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("warehouse_dml", "analytic_suite")
SETUP_REPS = 3
JVM_TIMEOUT_S = 170     # from the end of the build; a run must end within 180 s
HEAP = "2g"
JVM_FLAGS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
    "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def calib_s():
    """A fixed CPU loop: how fast this machine is right now."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return time.perf_counter() - t


def loadavg():
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def make_plan(workload, seed, data_dir):
    if workload == "warehouse_dml":
        return gen.dml_inputs(data_dir, seed)
    return gen.analytic_inputs(data_dir, seed)


def expected_outputs(workload, data_dir, plan, res):
    if workload == "warehouse_dml":
        return (check.dml_expected(data_dir, plan) +
                check.pipeline_expected(os.path.join(data_dir, "pipe"), plan["pipeline"]))
    return check.analytic_expected(data_dir, plan, res["workload_info"])


def run_jvm(classpath, plan_path, result_path, tmp_dir, deadline):
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp_dir}", "-cp", classpath,
                                   "perfbench.Driver", plan_path, result_path])
    left = deadline - time.time()
    log = open(result_path + ".log", "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, text=True)
    try:
        p.wait(timeout=max(10, left))
    except subprocess.TimeoutExpired:
        raise RuntimeError("driver timed out")
    finally:
        if p.poll() is None:  # timed out, or this process is being stopped
            p.kill()
            p.wait()
        log.close()
    if p.returncode != 0 or not os.path.exists(result_path):
        with open(result_path + ".log") as f:
            raise RuntimeError("driver failed:\n" + f.read()[-4000:])
    with open(result_path) as f:
        return json.load(f)


def main(argv):
    if argv and argv[0] in ("series", "compare"):
        import compare
        return compare.main(argv)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save", help="also write the full result record here")
    a = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanups below
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    t_start = time.time()  # set-up time starts after the (cached) build
    env = {"calib_s_start": calib_s(), "loadavg_start": loadavg(), "nproc": nproc()}
    run_dir = os.path.join(build.build_dir(), "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir, work_dir = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    tmp_dir = os.path.join(run_dir, "tmp")  # the JVM writes nothing outside the checkout
    os.makedirs(work_dir)
    os.makedirs(tmp_dir)
    try:
        plan = make_plan(a.workload, a.seed, data_dir)
        plan.update(workload=a.workload, seconds=a.seconds, trace=a.trace,
                    cpus=env["nproc"], setup_reps=SETUP_REPS,
                    data_dir=data_dir, work_dir=work_dir)
        plan_path = os.path.join(run_dir, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        res = run_jvm(classpath, plan_path, os.path.join(run_dir, "result.json"), tmp_dir,
                      t_start + JVM_TIMEOUT_S)
        expected = expected_outputs(a.workload, data_dir, plan, res)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    env.update(calib_s_end=calib_s(), loadavg_end=loadavg())
    rec = report.build_record(a, plan, res, expected, env, t_start)
    rec["env"].update(git_commit=git_commit(), source_stamp=build.source_stamp(), seed=a.seed)
    if a.save:
        with open(a.save, "w") as f:
            json.dump(rec, f, indent=1)
    report.print_report(rec)
    print(json.dumps(rec["contract"]))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
