#!/usr/bin/env python3
"""Layered benchmark of the git ETL (full and incremental) and the query inventory.

    python3 perfbench/run.py --workload etl_full --seed 1 --seconds 20 --trace 0

Run from the repository root. It builds the program from source (see
build.py), generates the workload's inputs from the seed (cached under
.bench_build/inputs), runs one JVM on local[nproc] that sets up five
times, warms up untimed and then times passes for --seconds, checks
every output outside the timed regions, and prints one JSON line per
metric followed by the result object as the last line.

Workloads:
  etl_full   repositories in, parquet tables and GitAnalytics answers out;
             the traced run also times a GitEtlIncr refresh over a fixed delta
  inventory  a fixed sample of SparkEntry.queries, each pass with fresh
             shared artifacts

`--trace 1` adds a traced half to the run and reports the per-layer
metrics instead of the end-to-end ones (see README.md).
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import checks  # noqa: E402
import corpus  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ("etl_full", "inventory")
HEAP = "2g"
DEADLINE_S = 175
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def nproc():
    return len(os.sched_getaffinity(0))


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def cpu_steal():
    """(steal, total) jiffies over all CPUs: time the host gave to others."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def inputs_for(workload, seed):
    """Generated inputs, cached by (kind, seed, generator source)."""
    kind = {"etl_full": "corpus", "inventory": "tables"}[workload]
    gen = HERE / ("tables.py" if kind == "tables" else "corpus.py")
    tag = hashlib.sha256(gen.read_bytes()).hexdigest()[:12]
    path = build.BUILD / "inputs" / f"{kind}-{seed}-{tag}"
    if path.exists():
        return path, None
    tmp = path.with_name(path.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    if kind == "tables":
        tables.build(tmp / "tables", seed)
    else:
        manifest = corpus.build(tmp, seed)
        (tmp / "heads.tsv").write_text("".join(
            f"{n}\t{e['base']}\t{e['delta']}\n"
            for n, e in manifest["repos"].items() if e["base"] != e["delta"]))
    tmp.rename(path)
    return path, time.perf_counter() - t0


def run_jvm(cp, workload, inputs, out, seconds, trace, deadline):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", *opens, "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", cp, "perfbench.Harness",
           "--workload", workload, "--inputs", str(inputs.resolve()), "--out", str(out.resolve()),
           "--seconds", str(seconds), "--trace", str(trace), "--threads", str(nproc())]
    env = dict(os.environ, LC_ALL="C.UTF-8", LANG="C.UTF-8")
    with open(out / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    return code


def summary(values):
    """Median plus the highest percentile with at least ten samples beyond it."""
    n = len(values)
    out = {"value": statistics.median(values), "n": n, "max": max(values)}
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            out[f"p{p}"] = statistics.quantiles(values, n=100, method="inclusive")[p - 1]
            break
    return out


def metric_line(workload, name, unit, stats, stamp, **more):
    print(json.dumps({"metric": name, "workload": workload, "unit": unit, **stats, **more, **stamp},
                     ensure_ascii=False))


def floors(inputs, manifest, threads):
    """The hardware anchor: raw git log, same command line as the ETL, output
    discarded; median of three."""
    repos = inputs / "repos"
    med = lambda jobs: statistics.median(checks.git_floor(jobs, threads) for _ in range(3))
    changed = [(repos / n, [e["delta"]] if e["mode"] == "rewind" else [f"{e['base']}..{e['delta']}"])
               for n, e in manifest["repos"].items() if e["mode"] in ("since", "rewind")]
    return {"etl.git_floor_s": med([(repos / n, []) for n in manifest["repos"]]),
            "etl.git_floor_giant_s": med([(repos / "giant", [])]),
            "incr.git_floor_s": med(changed)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    os.chdir(HERE.parent)
    try:
        cp = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    # a run must end within three minutes; only a first build may take longer
    started = time.monotonic()
    deadline = started + DEADLINE_S

    stamp = {"nproc": nproc(), "mem_total_kb": mem_total_kb()}
    inputs, gen_s = inputs_for(a.workload, a.seed)
    print(json.dumps({"generation_s": gen_s, "cached": gen_s is None, "inputs": str(inputs)}))
    out = build.BUILD / "runs" / f"{a.workload}-{a.seed}-t{a.trace}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    steal0 = cpu_steal()
    code = run_jvm(cp, a.workload, inputs, out, a.seconds, a.trace, deadline - 20)
    steal1 = cpu_steal()
    print(json.dumps({"cpu_steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])}))
    res_file = out / "result.json"
    if code != 0 or not res_file.exists():
        sys.stderr.write((out / "jvm.log").read_text(errors="replace")[-6000:])
        print(json.dumps({"error": f"harness exit {code}"}))
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        sys.exit(1)
    res = json.loads(res_file.read_text())
    for key in ("layers", "extra", "samples"):
        if res.get(key) == []:
            res[key] = {}

    print(json.dumps({"prime_s": res["extra"].get("prime_s"),
                      "warmup_s": res["extra"].get("warmup_s")}))
    manifest = None
    if a.workload == "inventory":
        found = checks.inventory(inputs / "tables", out, res, res["extra"].get("keys", []))
    else:
        manifest = json.loads((inputs / "manifest.json").read_text())
        found = checks.etl_full(inputs, manifest, out, res)
        if a.trace:
            found += checks.etl_incr(inputs, manifest, out, res)
    for name, ok, detail in found:
        if not ok:
            print(json.dumps({"check": name, "ok": ok, "detail": detail}, ensure_ascii=False))
    for e in res["errors"]:
        print(json.dumps({"error": e}, ensure_ascii=False))

    attempted = res["attempted"] + len(found)
    failed = res["failed"] + sum(not ok for _, ok, _ in found)
    print(json.dumps({"checks": len(found), "checks_failed": sum(not ok for _, ok, _ in found)}))
    metric_line(a.workload, "error_rate", "1", {"value": failed / attempted, "n": attempted}, stamp)
    metric_line(a.workload, "setup_s", "s", summary(res["setup_s"]), stamp)
    passes = res["samples"].get("pass_s", [])
    names = {"etl_full": ["etl_s", "analytics_s"], "inventory": []}[a.workload]
    alias = {"etl_full": "etl_s+analytics_s", "inventory": "inventory_s"}[a.workload]
    if passes:
        metric_line(a.workload, "pass_s", "s", summary(passes), stamp, same_as=alias)
        for n in names:
            metric_line(a.workload, n, "s", summary(res["samples"][n]), stamp)
    metrics = {}
    if a.trace == 0:
        if passes:
            metrics["pass_s"] = {"value": statistics.median(passes), "unit": "s"}
        metrics["setup_s"] = {"value": statistics.median(res["setup_s"]), "unit": "s"}
    else:
        layers = dict(res["layers"])
        if manifest is not None:
            layers.update(floors(inputs, manifest, nproc()))
        if "etl.git_floor_s" in layers:
            layers["etl.floor_ratio"] = layers["etl_s"] / layers["etl.git_floor_s"]
        for rec in res.get("records", []):
            print(json.dumps({"record": "inventory_key", **rec}, ensure_ascii=False))
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())["per_layer"]
        for m in spec:
            v = layers.get(m["name"], 0.0)
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
            metric_line(a.workload, m["name"], m["unit"], {"value": v}, stamp,
                        measured=m["name"] in layers)
    print(json.dumps({"wall_s": round(time.monotonic() - started, 1)}))
    print(json.dumps({"correct": failed == 0 and bool(passes) and bool(found), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
