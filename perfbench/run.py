#!/usr/bin/env python3
"""Benchmark entry point.

Usage (from the repository root):
  python3 perfbench/run.py --workload reports --seed 1 --seconds 10 --trace 0

Builds the program from source (cached per source hash), generates the
workload's inputs from the seed (cached per seed), runs the workload in
one JVM, checks every output against the program's DuckDB oracle SQL,
and prints one JSON object as the last line of standard output:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Exits 1 when an output does not match its oracle or a query fails, 2 when
the run cannot be made.
See perfbench/README.md.
"""
import argparse
import fcntl
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# seconds a run may take after the build and input generation
DEADLINE_S = 160
SETUP_REPS = 3
HEAP = "3g"

# name -> (base scale factor, self-union factor)
WORKLOADS = {
    "reports": (0.002, 1),
    "curation_stream": (0.0005, 2),
}

ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def inputs(work, workload, seed, sf=None):
    """Generate (once per seed) the workload's corpus; return its dir."""
    default_sf, factor = WORKLOADS[workload]
    sf = sf or default_sf
    with open(os.path.join(os.path.dirname(gen.__file__), "gen.py"), "rb") as f:
        version = check.digest(f.read())[:12]
    base = os.path.join(work, "data", version, f"seed{seed}", f"sf{sf}")
    out = base if factor == 1 else f"{base}-x{factor}"
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(os.path.join(os.path.dirname(out), "gen.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        for d, make in ((base, lambda tmp: gen.generate(tmp, seed, sf)),
                        (out, lambda tmp: gen.amplify(base, tmp, factor))):
            if not os.path.exists(os.path.join(d, ".done")):
                tmp = d + ".tmp"
                shutil.rmtree(tmp, ignore_errors=True)
                make(tmp)
                open(os.path.join(tmp, ".done"), "w").close()
                shutil.rmtree(d, ignore_errors=True)
                os.rename(tmp, d)
    return out


def copy_corpus(src, dst, i):
    """A copy the program sees as a new corpus: ArtifactCache keys its
    artifacts by file name, length and modification time, so each copy
    gets its own modification time and so an empty cache."""
    shutil.copytree(src, dst, ignore=shutil.ignore_patterns(".done"),
                    copy_function=shutil.copyfile)
    stamp = time.time() - 60 * (i + 1)
    for d, _, files in os.walk(dst):
        for f in files:
            os.utime(os.path.join(d, f), (stamp, stamp))
    return dst


def run_jvm(root, classes, work, run_dir, workload, corpora, seconds, seed, trace,
            deadline):
    """One graft JVM at a time: hold the JVM lock for its lifetime."""
    result = os.path.join(run_dir, "result.json")
    log = os.path.join(run_dir, "jvm.log")
    cmd = ["java", "-XX:-UsePerfData", *[a for o in ADD_OPENS for a in ("--add-opens", o)],
           f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           f"-Dderby.system.home={os.path.join(run_dir, 'derby')}",
           "-cp", f"{classes}:{os.path.join(build.spark_jars(root), '*')}",
           "perfbench.Harness", workload, ",".join(corpora), run_dir,
           str(seconds), str(seed), str(trace), result]
    os.makedirs(os.path.join(run_dir, "tmp"))
    with open(os.path.join(work, "jvm.lock"), "w") as lock, open(log, "w") as lf:
        fcntl.flock(lock, fcntl.LOCK_EX)
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("JVM run exceeded the deadline")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"JVM exited with code {proc.returncode}")
    with open(result) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="override the base scale factor (self-test)")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-test: flip one expected hash; the check must fail")
    ap.add_argument("--result-out", help="self-test: also write the raw run result here")
    a = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [(x["name"], x["unit"]) for x in spec["end_to_end"]]

    t0 = time.time()
    classes = build.build(root)
    work = build.work_dir(root)
    corpus = inputs(work, a.workload, a.seed, a.sf)
    t_inputs = time.time()
    deadline = t_inputs + DEADLINE_S
    run_dir = os.path.join(work, "runs", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        corpora = [copy_corpus(corpus, os.path.join(run_dir, f"corpus-{i}"), i)
                   for i in range(SETUP_REPS)]
        r = run_jvm(root, classes, work, run_dir, a.workload, corpora, a.seconds,
                    a.seed, a.trace, deadline)
        t_jvm = time.time()
        mismatches = check.check(work, corpus, os.path.join(run_dir, "dump"),
                                 r["dumped"], a.corrupt_expected)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if a.result_out:
        with open(a.result_out, "w") as f:
            json.dump(r, f)
    for name, err in r["failures"].items():
        print(f"[perfbench] {name} failed: {err}", file=sys.stderr)
    for name, why in mismatches.items():
        print(f"[perfbench] {name} output check: {why}", file=sys.stderr)
    m = r["metrics"]
    attempted = r["attempted"]
    failed = r["failed"] + len(mismatches)
    m["error_rate"] = failed / attempted
    if a.trace:
        for k, _ in e2e:
            m[f"traced.{k}"] = m[k]
        wanted = [(x["name"], x["unit"]) for x in spec["per_layer"]]
    else:
        wanted = e2e
    print(f"[perfbench] {a.workload} seed={a.seed}: {int(m['timed.samples'])} samples, "
          f"tail at p{100 * m['timed.tail_percentile']:.1f}, setup reps "
          f"{[round(m[f'setup.rep{i + 1}_s'], 3) for i in range(SETUP_REPS)]}; "
          f"build+inputs {t_inputs - t0:.1f}s, jvm {t_jvm - t_inputs:.1f}s, "
          f"check {time.time() - t_jvm:.1f}s",
          file=sys.stderr)
    correct = not mismatches and r["setup_failures"] == 0 and failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": m[k], "unit": u} for k, u in wanted},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    # a terminated run unwinds through the finally blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(2))
    try:
        sys.exit(main())
    except SystemExit as e:
        if isinstance(e.code, str):  # a message from the build: no run made
            print(e.code, file=sys.stderr)
            sys.exit(2)
        raise
    except Exception as e:  # noqa: BLE001 - any failure must exit non-zero
        print(f"perfbench: {type(e).__name__}: {e}", file=sys.stderr)
        sys.exit(2)
