"""Sketch-lifecycle benchmark for graft. Run from the repository root:

    python3 perfbench/run.py --workload ingest_hot_keys --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from source on first use (see
build.py), runs one JVM with one Spark session, and prints the result object
as the last line of standard output. Every run's record is written under
`.bench_build/perfbench/runs/` and appended to `.bench_build/perfbench/ledger.jsonl`.

Option beyond the four above: `--scale tiny` (small inputs, for the
smoke test).
"""
import argparse
import glob
import json
import os
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest_hot_keys", "rollup_stored", "stream_windows")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def git_head():
    """HEAD commit from ./.git when the checkout is a git clone, else ''."""
    try:
        ref = open(os.path.join(".git", "HEAD")).read().strip()
        if not ref.startswith("ref: "):
            return ref
        name = ref[5:]
        path = os.path.join(".git", name)
        if os.path.exists(path):
            return open(path).read().strip()
        for line in open(os.path.join(".git", "packed-refs")):
            if line.rstrip().endswith(" " + name):
                return line.split()[0]
    except OSError:
        pass
    return ""


def class_archive(tree_hash):
    """JVM class-data-sharing archive of the classes a run loads. The first
    run of a build writes it at exit; later runs map it, which cuts JVM and
    Spark start-up (and so the length of every run) by several seconds. It
    does not change the measured ops: they run after set-up and warm-up."""
    path = os.path.join(build.OUT, "classes-%s.jsa" % tree_hash[:16])
    for old in glob.glob(os.path.join(build.OUT, "classes-*.jsa")):
        if old != path:
            os.remove(old)
    if os.path.exists(path):
        return "-XX:SharedArchiveFile=" + path
    return "-XX:ArchiveClassesAtExit=" + path


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", default="full", choices=("full", "tiny"))
    args = ap.parse_args()

    try:
        classpath, tree_hash = build.build()
    except build.BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        return 2

    out = os.path.join(build.OUT, "runs", "%s-seed%d-trace%s-%s-%d" % (
        args.workload, args.seed, args.trace, args.scale, int(time.time() * 1000)))
    os.makedirs(out)
    heap = "1g" if args.scale == "tiny" else "3g"
    cmd = (["java", "-Xms" + heap, "-Xmx" + heap, "-Xss4m", "-XX:-UsePerfData",
            class_archive(tree_hash), "-Djava.io.tmpdir=" + os.path.join(out, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(build.BENCH_DIR, "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace, "--out", out,
              "--scale", args.scale,
              "--git-head", git_head() or "none", "--tree-hash", tree_hash])
    os.makedirs(os.path.join(out, "tmp"))
    log_path = os.path.join(out, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print("benchmark JVM timed out; log: %s" % log_path, file=sys.stderr)
            return 3
    result_path = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        print("benchmark JVM failed (exit %d); log: %s" % (code, log_path), file=sys.stderr)
        return 4
    result = json.loads(open(result_path).read())
    with open(os.path.join(out, "ledger.json")) as f:
        ledger = f.read().strip()
    with open(os.path.join(build.OUT, "ledger.jsonl"), "a") as f:
        f.write(ledger + "\n")
    print("record: %s" % out)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
