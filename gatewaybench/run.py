#!/usr/bin/env python3
"""Gateway-path benchmark: build, data, one measured run.

Run from the root of a checkout:

    python3 gatewaybench/run.py --workload interactive --seed 1 --seconds 20 --trace 0

It builds the engine and the benchmark from source (sbt, once per source
fingerprint), generates the fixture data (once per checkout), runs one JVM
for the workload and prints, as its last stdout line, one JSON object with
the keys correct, attempted, failed and metrics. Everything it writes goes
under .bench_build/gatewaybench/ in the checkout; the full report of every
run is kept there under results/.
"""
import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "gatewaybench")
DATA = os.path.join(WORK, "data")
RESULTS = os.path.join(WORK, "results")
WORKLOADS = ("interactive", "bulk", "stream")
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"gatewaybench: {msg}", file=sys.stderr)
    sys.exit(1)


def fingerprint():
    """Hash of every input of the build: the engine's and the benchmark's
    sources and build definitions."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, p) for p in ("build.sbt", ".jvmopts", "project/build.properties")]
    paths += [os.path.join(HERE, p) for p in ("build.sbt", "project/build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in sorted(os.walk(base)):
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def jvm_module_opts():
    """The engine's .jvmopts (e.g. the incubator vector module), if any."""
    p = os.path.join(ROOT, ".jvmopts")
    if not os.path.isfile(p):
        return []
    with open(p) as f:
        return [l.strip() for l in f if l.strip() and not l.startswith("#")]


def build():
    """Compile engine + benchmark with sbt when the sources changed. Returns
    the runtime classpath and the engine's JVM options."""
    runtime_file = os.path.join(WORK, "runtime.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    fp = fingerprint()
    fresh = False
    if os.path.isfile(runtime_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            fresh = f.read().strip() == fp
    if not fresh:
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        cmd = (["sbt", "-batch", "-Dsbt.log.noformat=true"]
               + ["-J" + o for o in jvm_module_opts()] + ["compile", "benchRuntime"])
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=800)
        written = os.path.join(HERE, "target", "bench-runtime.txt")
        if p.returncode != 0 or not os.path.isfile(written):
            sys.stderr.write("\n".join(p.stdout.splitlines()[-40:]) + "\n")
            fail("build failed")
        os.makedirs(WORK, exist_ok=True)
        with open(written) as f, open(runtime_file, "w") as g:
            g.write(f.read())
        with open(stamp_file, "w") as f:
            f.write(fp)
    with open(runtime_file) as f:
        lines = [l.rstrip("\n") for l in f]
    return lines[0], [l for l in lines[1:] if l]


def java_cmd(runtime, heap):
    """The engine's JVM options, then this benchmark's: a fixed heap, and
    Spark's and the JVM's scratch inside the work directory."""
    cp, engine_opts = runtime
    tmp = os.path.join(WORK, "tmp")
    return (["java"] + engine_opts
            + [f"-Xmx{heap}", "-XX:+UseG1GC", f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}"]
            + ["-cp", cp])


def run_jvm(cmd, timeout):
    """Run in its own process group under the work directory (Spark's
    warehouse and logs land there); kill the group on timeout."""
    cwd = os.path.join(WORK, "run")
    os.makedirs(cwd, exist_ok=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "tmp")
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"timed out after {timeout} s")
    return p.returncode, out, err


def ensure_data(runtime):
    """Generate the fixture data the first time a checkout runs."""
    want = [(os.path.join(DATA, "sf0.01"), "0.01"), (os.path.join(DATA, "sf0.1"), "0.1")]
    todo = [(d, sf) for d, sf in want if not os.path.isfile(os.path.join(d, "manifest.json"))]
    if not todo:
        return
    args = ["gatewaybench.Main", "--generate"] + [x for d, sf in todo for x in (d, sf)]
    code, out, err = run_jvm(java_cmd(runtime, "3g") + args, 600)
    if code != 0:
        sys.stderr.write(err[-4000:])
        fail("data generation failed")


def tracing_overhead(workload, traced):
    """Traced vs untraced end-to-end medians over the kept results."""
    untraced = []
    for name in os.listdir(RESULTS):
        if name.startswith(f"{workload}-") and name.endswith("-trace0.json"):
            with open(os.path.join(RESULTS, name)) as f:
                untraced.append(json.load(f))
    out = {}
    for m in ("first_page_ms_p50", "latency_ms_p50"):
        vals = [r["end_to_end"][m]["value"] for r in untraced if m in r["end_to_end"]]
        if vals and m in traced["end_to_end"]:
            base = statistics.median(vals)
            out[m] = {"untraced_median": base, "traced": traced["end_to_end"][m]["value"],
                      "overhead_frac": traced["end_to_end"][m]["value"] / base - 1 if base else None,
                      "untraced_runs": len(vals)}
    return out


def layer_table(report, overhead):
    """The per-layer self-time table and the tracing overhead, as markdown."""
    rows = ["| layer | self ms | share |", "|---|---|---|"]
    total = sum(report["layer_self_ms"].values()) or 1.0
    for layer, ms in report["layer_self_ms"].items():
        rows.append(f"| {layer} | {ms:.1f} | {ms / total:.1%} |")
    lines = [f"# {report['workload']} seed {report['seed']}: per-layer self time", ""] + rows
    lines += ["", "Tracing overhead (traced run vs untraced runs kept in results/):", ""]
    for m, o in overhead.items():
        frac = o["overhead_frac"]
        lines.append(f"- {m}: traced {o['traced']:.2f} vs untraced median {o['untraced_median']:.2f} "
                     f"over {o['untraced_runs']} runs" + (f" ({frac:+.1%})" if frac is not None else ""))
    if not overhead:
        lines.append("- no untraced run of this workload kept yet")
    return "\n".join(lines) + "\n"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout of the engine (build.sbt and src/main/scala/graft)")

    runtime = build()
    ensure_data(runtime)
    os.makedirs(RESULTS, exist_ok=True)
    t0_ms = int(time.time() * 1000)
    args = ["gatewaybench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", DATA,
            "--out", RESULTS, "--t0-ms", str(t0_ms)]
    code, out, err = run_jvm(java_cmd(runtime, "3g") + args, RUN_TIMEOUT_S)
    lines = [l for l in out.splitlines() if l.startswith("GATEWAYBENCH ")]
    if code != 0 or not lines:
        sys.stderr.write(err[-6000:])
        fail(f"benchmark process exited with {code}")
    for l in err.splitlines():
        if l.startswith("gatewaybench check failed"):
            print(l, file=sys.stderr)
    report = json.loads(lines[-1][len("GATEWAYBENCH "):])
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    if a.trace:
        report["tracing_overhead"] = tracing_overhead(a.workload, report)
        with open(os.path.join(RESULTS, f"layers-{a.workload}-seed{a.seed}.md"), "w") as f:
            f.write(layer_table(report, report["tracing_overhead"]))
    with open(os.path.join(RESULTS, stem + ".json"), "w") as f:
        json.dump(report, f, indent=1)
    print("report " + json.dumps(report))

    # the last line carries BENCHMARK.json's end_to_end (trace 0) or
    # per_layer (trace 1) metrics
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    source = report["per_layer"] if a.trace else report["end_to_end"]
    names = [m["name"] for m in declared["per_layer" if a.trace else "end_to_end"]]
    missing = [n for n in names if n not in source]
    if missing:
        fail(f"metrics not measured: {missing}")
    print(json.dumps({"correct": bool(report["correct"]), "attempted": int(report["attempted"]),
                      "failed": int(report["failed"]),
                      "metrics": {n: source[n] for n in names}}))


if __name__ == "__main__":
    main()
