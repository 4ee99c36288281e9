#!/usr/bin/env python3
"""Run one perfbench workload and print its result.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1 [--pin]

Run from the root of a checkout. Steps, each its own process:

  1. build   perfbench/build.py compiles the engine and the benchmark;
  2. inputs  perfbench/gen.py writes the fixed fixtures (once) and the
             inputs --seed selects (every run);
  3. measure perfbench.Main runs the workload on `nproc` cores and writes
             a result file with every metric, check and environment field.

Human-readable lines go first; the last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
The exit code is 0 only if every operation and output check passed.

Everything the run writes stays under `.bench_build/` and `.bench_work/`;
each run's result file is kept in `.bench_work/results/` for compare.py.
`--pin` rewrites perfbench/pins.json from this run's outputs.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["ingest", "query_corpus"]
JVM_TIMEOUT_S = 165
GEN_VERSION_FILES = ["gen.py"]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def declared():
    """The metric names and units BENCHMARK.json declares, by section."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return {k: [(m["name"], m["unit"]) for m in b[k]] for k in ("end_to_end", "per_layer")}


def step(cmd, timeout, **kw):
    """Runs one step to completion; on timeout kills it and waits."""
    p = subprocess.Popen(cmd, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise


def inputs(work, seed, workload):
    """Fixed fixtures are written once per generator version; the seeded
    inputs are written fresh for every run."""
    import hashlib
    h = hashlib.sha256()
    for f in GEN_VERSION_FILES:
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    base = os.path.join(work, "base-" + h.hexdigest()[:12])
    gen = [sys.executable, os.path.join(HERE, "gen.py")]
    if not os.path.exists(os.path.join(base, ".complete")):
        shutil.rmtree(base, ignore_errors=True)
        if step(gen + ["base", base], 300) != 0:
            raise RuntimeError("input generator failed (base)")
        open(os.path.join(base, ".complete"), "w").close()
    run_inputs = os.path.join(work, "run", "inputs")
    shutil.rmtree(os.path.join(work, "run"), ignore_errors=True)
    os.makedirs(run_inputs)
    os.symlink(base, os.path.join(run_inputs, "base"))
    if step(gen + ["seeded", base, os.path.join(run_inputs, "seeded"),
                  "--seed", str(seed), "--workload", workload], 300) != 0:
        raise RuntimeError("input generator failed (seeded)")
    return run_inputs


def cpu_times():
    """Aggregate jiffies from /proc/stat: (busy, steal, total)."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[0] + f[1] + f[2] + f[5] + f[6], f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return 0, 0, 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()

    clock = [("start", time.time())]
    out_dir, jars = build.build()
    clock.append(("build", time.time()))
    work = os.path.join(ROOT, ".bench_work")
    run_inputs = inputs(work, a.seed, a.workload)
    clock.append(("inputs", time.time()))
    run_dir = os.path.join(work, "run")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    result_path = os.path.join(run_dir, "result.json")
    pins = os.path.join(HERE, "pins.json")
    new_pins = os.path.join(run_dir, "pins.json")
    nproc = os.cpu_count() or 1
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    env["SPARK_LOCAL_DIRS"] = tmp
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens +
           ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", os.path.join(out_dir, "classes") + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--inputs", run_inputs, "--work", os.path.join(run_dir, "work"),
            "--out", result_path] +
           (["--pins", pins] if os.path.exists(pins) else []) +
           (["--write-pins", new_pins] if a.pin else []))
    stat0 = cpu_times()
    code = step(cmd, JVM_TIMEOUT_S, cwd=run_dir, env=env, stdout=sys.stderr)
    stat1 = cpu_times()
    clock.append(("program", time.time()))
    if code != 0 or not os.path.exists(result_path):
        raise RuntimeError(f"benchmark program exited {code} without a result")
    with open(result_path) as fh:
        res = json.load(fh)
    res["env"]["git_head"] = git_head()
    res["env"]["source_digest"] = os.path.basename(out_dir)
    total = max(stat1[2] - stat0[2], 1)
    res["env"]["host_cpu_during_run"] = (
        f"busy {100 * (stat1[0] - stat0[0]) / total:.1f}% steal {100 * (stat1[1] - stat0[1]) / total:.1f}%")
    res["env"]["steps_s"] = " ".join(
        f"{name}={t - prev:.1f}" for (_, prev), (name, t) in zip(clock, clock[1:]))
    keep = os.path.join(work, "results")
    os.makedirs(keep, exist_ok=True)
    with open(os.path.join(keep, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(res, fh, indent=1)
    if a.pin:
        merge_pins(pins, new_pins)
    shutil.rmtree(os.path.join(run_dir, "work"), ignore_errors=True)

    report(res)
    attempted, failed = res["attempted"], res["failed"]
    # A traced run reports 0 for the layers its workload does not touch.
    section = "per_layer" if a.trace else "end_to_end"
    got = res[section]
    metrics = {n: {"value": got[n]["value"] if n in got else (0.0 if a.trace else None), "unit": u}
               for n, u in declared()[section]}
    mismatched = [n for n in metrics if n in got and got[n]["unit"] != metrics[n]["unit"]]
    if mismatched:
        print(f"  FAILED units differ from BENCHMARK.json: {mismatched}")
    correct = failed == 0 and not mismatched and all(
        isinstance(m["value"], (int, float)) and math.isfinite(m["value"]) for m in metrics.values())
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def report(res):
    """Every metric by name and unit, the failed checks, the environment."""
    print(f"workload {res['workload']}  seed {res['seed']}  trace {res['trace']}")
    notes = res.get("notes", {})
    for section in ["end_to_end", "per_layer"]:
        for k, m in res[section].items():
            note = f"  ({notes[k]})" if k in notes else ""
            print(f"  {section:10s} {k:32s} {m['value']!s:>22} {m['unit']}{note}")
    frac = res["failed"] / max(res["attempted"], 1)
    print(f"  end_to_end {'ops_failed_frac':32s} {frac:>22} ratio"
          f"  ({res['failed']} of {res['attempted']} operations and checks failed)")
    for c in res["checks"]:
        if not c["ok"]:
            print(f"  FAILED {c['name']}: {c['detail']}")
    for k, v in res["env"].items():
        print(f"  env {k}: {v}")


def git_head():
    """HEAD of the checkout, when the checkout is itself a git work tree."""
    def git(*args):
        return subprocess.run(["git", *args], cwd=ROOT, capture_output=True, text=True,
                              timeout=10).stdout.strip()
    try:
        if os.path.realpath(git("rev-parse", "--show-toplevel") or "/") == os.path.realpath(ROOT):
            return git("rev-parse", "HEAD")
    except (OSError, subprocess.SubprocessError):
        pass
    return "not a git checkout"


def merge_pins(pins, new_pins):
    old = json.load(open(pins)) if os.path.exists(pins) else {}
    if os.path.exists(new_pins):
        old.update(json.load(open(new_pins)))
    with open(pins, "w") as fh:
        json.dump(dict(sorted(old.items())), fh, indent=2)
        fh.write("\n")


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (build.BuildError, RuntimeError, subprocess.TimeoutExpired, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
