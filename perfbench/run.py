"""Workload benchmark of the engine.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the engine and the harness
(perfbench/build.py), then runs one workload over the tables in
perfbench/data/sf0.01 in a fresh JVM with a private temp directory and
Spark local directory, which are removed when the run ends. The last
stdout line is the result: {"correct", "attempted", "failed", "metrics"}.
With --trace 1 the span trace is written to
.bench_build/traces/<workload>-<seed>.jsonl.

  python3 perfbench/run.py --selftest       the harness's own tests
  python3 perfbench/run.py --fingerprints   rewrite perfbench/fingerprints.json
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = "perfbench"
SPEC = os.path.join(HERE, "workloads.json")
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")
DATA = os.path.join(HERE, "data", "sf0.01")
RUN_TIMEOUT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def java(classes, work, args, timeout):
    """Run the harness JVM in its own process group; kill the group on
    timeout or interrupt and wait for it. Returns its stdout."""
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.abspath(HERE)}/log4j2.properties"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-cp", f"{classes}:{build.spark_jars(os.getcwd())}/*",
              "graft.perfbench.Main"] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    if proc.returncode != 0:
        sys.stderr.write(out)
        fail(f"harness exited with code {proc.returncode}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--fingerprints", action="store_true")
    a = ap.parse_args()
    if not os.path.isfile(SPEC) or not os.path.isdir(DATA):
        fail(f"no {SPEC} or {DATA}; run from the root of a checkout")
    classes = os.path.abspath(build.build(os.getcwd()))
    work = os.path.abspath(os.path.join(build.BUILD, "work", str(os.getpid())))
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if a.selftest:
            sys.stdout.write(java(classes, work, ["selftest"], RUN_TIMEOUT_S))
            return
        data = os.path.abspath(DATA)
        if a.fingerprints:
            java(classes, work, ["fingerprints", "--spec", SPEC, "--data", data,
                                 "--work", work, "--out", FINGERPRINTS], 900)
            return
        if a.workload is None or a.seed is None or a.seconds is None:
            fail("--workload, --seed and --seconds are required")
        trace_out = os.path.join(build.BUILD, "traces",
                                 f"{a.workload}-{a.seed}.jsonl")
        out = java(classes, work, [
            "run", "--spec", SPEC, "--data", data, "--work", work,
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--fingerprints", FINGERPRINTS, "--trace-out", trace_out],
            RUN_TIMEOUT_S)
        lines = out.strip().splitlines()
        result = json.loads(lines[-1]) if lines else {}
        if list(result) != ["correct", "attempted", "failed", "metrics"]:
            fail("harness printed no result line")
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
