#!/usr/bin/env python3
"""Self-test of the benchmark at scale factor 0.001.

Usage (from the repository root): python3 perfbench/selftest.py

For every workload: one untraced and one traced run, each of which must
pass its output check and report every metric BENCHMARK.json names, with
its unit; in the traced run no span's children may cover more time than
the span itself. Prints the tracing overhead on each end-to-end metric
(traced value against untraced value, same seed). Finally a run with one
expected hash corrupted must fail its output check and exit non-zero.
"""
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

SF = "0.001"
SLACK_S = 0.002  # span clocks are read separately at each boundary


def run(workload, trace, result_out, *extra):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--sf", SF,
           "--result-out", result_out, *extra]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    return p.returncode, json.loads(last), p.stderr


def span_violations(result):
    spans = {s[0]: s for s in result["spans"]}
    children = {}
    for s in spans.values():
        children[s[1]] = children.get(s[1], 0.0) + s[4]
    return [(spans[i][2], spans[i][3], spans[i][4], c)
            for i, c in children.items() if i in spans and c > spans[i][4] + SLACK_S]


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    raw = os.path.join(build.work_dir(os.getcwd()), "selftest-result.json")
    problems = []
    for w in (x["name"] for x in spec["workloads"]):
        out = {}
        for trace in (0, 1):
            code, res, err = run(w, trace, raw)
            out[trace] = res
            tag = f"{w} trace={trace}"
            if code != 0 or not res.get("correct"):
                problems.append(f"{tag}: exit {code}, correct={res.get('correct')}\n{err[-2000:]}")
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"missing {sorted(set(want[trace]) - set(got))}, "
                                f"extra {sorted(set(got) - set(want[trace]))}, "
                                f"units {[k for k in got if k in want[trace] and got[k] != want[trace][k]]}")
            if trace == 1:
                with open(raw) as f:
                    bad = span_violations(json.load(f))
                if bad:
                    problems.append(f"{tag}: children cover more than their span: {bad[:5]}")
            print(f"[selftest] {tag}: ok ({res['attempted']} attempted)")
        if 0 in out and 1 in out and out[0].get("metrics") and out[1].get("metrics"):
            for name in want[0]:
                base = out[0]["metrics"][name]["value"]
                traced = out[1]["metrics"][f"traced.{name}"]["value"]
                rel = (traced - base) / base if base else float("nan")
                print(f"[selftest] {w} tracing overhead on {name}: "
                      f"{base:.4f} -> {traced:.4f} ({100 * rel:+.1f}%)")
    code, res, _ = run("reports", 0, raw, "--corrupt-expected")
    if code == 0 or res.get("correct", True):
        problems.append(f"corrupted expected hash not caught: exit {code}, {res}")
    else:
        print("[selftest] corrupted expected hash caught")
    os.remove(raw)
    for p in problems:
        print(f"[selftest] FAIL {p}", file=sys.stderr)
    print("[selftest] " + ("FAILED" if problems else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
