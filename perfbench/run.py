#!/usr/bin/env python3
"""graft benchmark: one command per workload.

    python3 perfbench/run.py --workload <ingest|corpus|dashboard>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the library and the benchmark's
JVM code from source (perfbench/jvm, outputs under .bench_build), generates
the seeded inputs once per (workload, seed), runs the workload in one JVM
on local[nproc], checks every output outside the timed region, and prints
the metrics. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

# Row counts per workload. Each is sized so a run (set-up, timed region,
# output check) takes about a minute on 4 cores, so that 48 runs of the two
# workloads fit in under an hour. Ingest's days are the bootstrap, the warm
# days and the timed days (perfbench/jvm .../Ingest.scala).
BASE = {"customers": 1500, "orders": 15000, "lineitems": 60000, "events": 10000,
        "users": 150, "days": 30, "documents": 200, "embeddings": 200}
SIZES = {
    "dashboard": dict(BASE),
    "ingest": dict(BASE, events=8000, users=300, days=10),
    "corpus": dict(BASE, documents=500, embeddings=300),
}
DEADLINE_S = 170
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    h = hashlib.sha256()
    for base in ("src/main/scala", "perfbench/jvm"):
        for d, dirs, files in sorted(os.walk(os.path.join(root, base))):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project") or base == "src/main/scala")
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(p.encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def build(root, out_dir, deadline):
    """Compile library + benchmark with sbt once per source state."""
    stamp = source_stamp(root)
    stamp_file = os.path.join(out_dir, "stamp")
    cp_file = os.path.join(out_dir, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found")
    # sbt's global state and temporary files stay under the build directory
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + f" -Dsbt.offline=true -Xmx3g -Dsbt.global.base={out_dir}/sbt-global"
                       f" -Djna.tmpdir={tmp} -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    log = os.path.join(out_dir, "build.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                                cwd=os.path.join(root, "perfbench", "jvm"), stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env, timeout=max(60, deadline - time.time())).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out, see {log}")
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (exit {rc}), see {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return open(cp_file).read().strip()


def inputs(out_dir, workload, seed):
    """Generate the workload's tables once per (workload, seed, sizes)."""
    sizes = SIZES[workload]
    key = hashlib.sha256(json.dumps([workload, seed, sizes], sort_keys=True).encode()).hexdigest()[:12]
    d = os.path.join(out_dir, "data", f"{workload}-{seed}-{key}")
    layout_file = os.path.join(d, "layout.json")
    if not os.path.exists(layout_file):
        shutil.rmtree(d, ignore_errors=True)
        layout = gen.generate(d + ".tmp", seed, sizes)
        with open(os.path.join(d + ".tmp", "layout.json"), "w") as fh:
            json.dump(layout, fh)
        os.rename(d + ".tmp", d)
    with open(layout_file) as fh:
        return d, json.load(fh)


def run_jvm(cp, args, data, run_dir, cores, deadline):
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xmx4g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-cp", cp] + opens +
           ["graft.perfbench.Main", "--workload", args.workload, "--data", data, "--out", run_dir,
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--seed", str(args.seed),
            "--cores", str(cores)])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"workload timed out, see {log}")
    res = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(res):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        fail(f"workload exited {rc}:\n{tail}")
    with open(res) as fh:
        return json.load(fh)


def p90(xs):
    """p90 interpolated between order statistics (a nearest-rank p90 of a
    few samples is just the slowest one), and the samples above it."""
    v = statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]
    return v, sum(1 for x in xs if x > v)


def by_entry_median(timed, key):
    """Sum over entries of each entry's median over the timed passes."""
    per = {}
    for r in timed:
        per.setdefault(r["entry"], []).append(r[key])
    return sum(statistics.median(v) for v in per.values())


def untraced(res):
    """Timed requests and per-pass figures of the untraced passes."""
    region = res["region"]
    keep = [not t for t in region["traced"]]
    passes = {k: [v for v, u in zip(region[k], keep) if u] for k in ("pass_wall_ms", "pass_cpu_ms",
                                                                     "pass_shuffle_write_b")}
    timed = [r for r in res["requests"] if r["pass"] >= 0 and keep[r["pass"]]]
    return timed, passes


def end_to_end(res):
    region = res["region"]
    timed, passes = untraced(res)
    lat = [r["ms"] for r in timed]
    lat_p90, beyond = p90(lat)
    if res["workload"] == "ingest":
        deltas = [d for d in res["deltas"] if d["cycle"] >= 0 and not d["traced"]]
        fresh = statistics.median(d["freshness_ms"] for d in deltas)
        stored = res["warehouse_b"] / res["ingested_b"]
        run_s = statistics.median(passes["pass_wall_ms"]) / 1000
        cpu_s = statistics.median(passes["pass_cpu_ms"]) / 1000
    else:
        # closed loop: a request is due once the previous reply and its
        # cache release are done (the first of a pass: when it is sent)
        fresh = statistics.median(b["end_ms"] - (a["end_ms"] if a and a["pass"] == b["pass"] else b["start_ms"])
                                  for a, b in zip([None] + timed, timed))
        stored = statistics.median(passes["pass_shuffle_write_b"]) / res["input_bytes"]
        # one pass, each entry at its median over the passes
        run_s = by_entry_median(timed, "ms") / 1000
        cpu_s = by_entry_median(timed, "cpu_ms") / 1000
    m = {
        "setup_s": res["setup_s"],
        "run_s": run_s,
        "latency_p50_ms": statistics.median(lat),
        "latency_p90_ms": lat_p90,
        "freshness_p50_ms": fresh,
        "cpu_s": cpu_s,
        "peak_heap_mb": region["peak_heap_b"] / 1e6,
        "stored_bytes_per_input_byte": stored,
    }
    extra = {"latency_samples": len(lat), "p90_samples_beyond": beyond, "passes": len(region["traced"]),
             "steal_ms": region["steal_ms"]}
    return m, extra


def per_layer(res, out_rows):
    m = dict(res["layers"])
    m["tables.rows_per_output_row"] = m["tables.read_rows"] / out_rows if out_rows else 0.0
    traced = [d for d in res.get("deltas", []) if d["traced"]]

    def med(k, f=lambda d, k: d[k]):
        return statistics.median(f(d, k) for d in traced) if traced else 0.0
    m.update({
        "sources.refresh_ms": med("refresh_ms"),
        "sources.write_mb": med("write_b") / 1e6,
        "sources.files_written": med("files_written"),
        "sources.write_amp": med(None, lambda d, _: d["write_b"] / d["delta_b"]),
        "streaming.batch_ms": med("batch_ms"),
        "streaming.state_rows": traced[-1]["state_rows"] if traced else 0.0,
        "streaming.state_mb": traced[-1]["state_b"] / 1e6 if traced else 0.0,
        "streaming.commit_ms": med("commit_ms"),
        "harness.lag_ms": med("lag_ms"),
    })
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    root = os.path.dirname(HERE)
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("library sources (src/main/scala/graft) not found; run from a full checkout")
    out_dir = os.path.join(root, ".bench_build")
    os.makedirs(out_dir, exist_ok=True)
    cp = build(root, out_dir, time.time() + 900)
    deadline = max(deadline, time.time() + 150)
    t_build = time.time()
    data, layout = inputs(out_dir, args.workload, args.seed)
    t_gen = time.time()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(out_dir, "runs", f"{args.workload}-t{args.trace}")
    res = run_jvm(cp, args, data, run_dir, cores, deadline - 20)

    t_jvm = time.time()
    verdict = checks.check(res, data, run_dir, os.path.join(out_dir, "oracle"))
    print(f"phases: generate {t_gen - t_build:.1f} s, jvm {t_jvm - t_gen:.1f} s, "
          f"check {time.time() - t_jvm:.1f} s", file=sys.stderr)
    timed = [r for r in res["requests"] if r["pass"] >= 0]
    failed_entries = set(verdict["failed"])
    errors = {r["entry"] for r in res["requests"] if r["err"]}
    failed_entries |= errors
    days = [d for d in res.get("deltas", []) if d["cycle"] >= 0]
    attempted = len(timed) + len(days)
    failed = sum(1 for r in timed if r["entry"] in failed_entries)
    if any(d["err"] for d in res.get("deltas", [])):
        failed_entries.add("ingest:refresh")
    failed += len(days) if verdict["failed"] else sum(1 for d in days if d["err"])

    metrics, extra = end_to_end(res)
    print(f"workload={args.workload} seed={args.seed} cores={cores} input_bytes={res['input_bytes']} "
          f"layout={json.dumps(layout, sort_keys=True)}")
    print(f"conf={json.dumps(res['conf'], sort_keys=True)}")
    print(f"check: {verdict['summary']}; failed_frac={failed / max(1, attempted):.4f} "
          f"({failed}/{attempted})" + (f"; failed: {sorted(failed_entries)}" if failed_entries else ""))
    units = metric_units()
    print("end-to-end: " + ", ".join(f"{k}={v:.4g}{units[k]}" for k, v in metrics.items()) +
          f"; latency samples={extra['latency_samples']} ({extra['p90_samples_beyond']} above p90)"
          f", passes={extra['passes']}, steal_ms={extra['steal_ms']:.0f}")
    if args.trace:
        layers = per_layer(res, verdict["output_rows"])
        na = not_applicable(res["workload"])
        for k in sorted(layers):
            print(f"  {k:34s} {'n/a' if k in na else f'{layers[k]:.6g}':>14s} {units[k]}")
        print("spans (self ms per pass): " + json.dumps(res.get("spans", {})))
        print(f"  {'request':28s} {'ms':>8s} {'cpu_ms':>8s} {'run_ms':>8s} {'stall_ms':>8s} {'jobs':>5s} {'tasks':>5s}")
        for e, v in sorted(res["entries"].items()):
            print(f"  {e:28s} {v['ms']:8.0f} {v['cpu_ms']:8.0f} {v['run_ms']:8.0f} {v['stall_ms']:8.0f} "
                  f"{v['jobs']:5.0f} {v['tasks']:5.0f}")
        out = {k: {"value": layers[k], "unit": units[k]} for k in layer_names()}
    else:
        out = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    print(json.dumps({"correct": failed == 0 and verdict["compared"] > 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


def not_applicable(workload):
    """Layers that do no work in a workload; printed as n/a (value 0)."""
    skip = () if workload == "ingest" else ("sources.", "streaming.", "harness.lag_ms")
    skip += () if workload == "corpus" else ("functions.", "ml.")
    return {k for k in layer_names() if k.startswith(skip)}


def benchmark_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def layer_names():
    return [m["name"] for m in benchmark_spec()["per_layer"]]


def metric_units():
    """Unit of every end-to-end and per-layer metric, from BENCHMARK.json."""
    spec = benchmark_spec()
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    main()
