"""One benchmark run: build, data, set-up samples, the Driver JVM, the
correctness gate, metrics, run record."""
import json
import os
import shutil
import subprocess
import sys
import time

from . import build, data, metrics, oracle
from .workloads import WORKLOADS

OUT = build.OUT
SETUP_PROBES = 1  # extra set-up samples; the Driver's own is another
RUN_LIMIT_S = 170  # a run must end within 180 s; JVMs and oracle share this


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def cpu_times():
    """(steal, total) jiffies of all CPUs; steal is time the hypervisor
    gave this machine's CPUs to others."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def commit_id():
    """The git commit when there is one, else a hash of the sources."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "sources:" + build.sources_hash()[:16]


def setup_sample(classpath, tmp, timeout):
    launch = time.time_ns() // 1000
    out = subprocess.run(build.java_cmd(classpath, tmp, "setup", str(launch)),
                         capture_output=True, text=True, timeout=timeout,
                         cwd=tmp)
    if out.returncode != 0:
        raise RuntimeError("set-up probe failed:\n" + out.stderr[-2000:])
    return float(out.stdout.strip().splitlines()[-1])


def run(workload, seed, seconds, trace):
    wl = WORKLOADS[workload]
    classpath = build.ensure_built(log)

    # inputs: the sf0.1 corpus, or its replica (built once per checkout)
    if wl.data == "x10":
        data_dir = OUT / "data" / "x10"
        manifest = data.replica(data_dir, 10)
    else:
        data_dir = data.SF01
        manifest = data.describe(data_dir)

    tmp = OUT / "tmp"
    index = OUT / "index"
    gate = OUT / "gate"
    for d in (tmp, index, gate):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    runs = OUT / "runs"
    runs.mkdir(parents=True, exist_ok=True)

    cores = os.cpu_count() or 1
    stamp = {"commit": commit_id(), "nproc": cores, "cores_used": cores,
             "heap": f"{build.heap_gb()}g", "seed": seed, "workload": workload,
             "trace": bool(trace), "run_seconds": seconds,
             "loadavg_start": loadavg(), "data": str(data_dir.relative_to(build.ROOT)),
             "data_rows": manifest["rows"], "data_bytes": manifest["total_bytes"]}

    # set-up samples: fresh JVMs, launch to session ready
    cpu0 = cpu_times()
    t0 = time.monotonic()
    deadline = t0 + RUN_LIMIT_S
    setup = [setup_sample(classpath, tmp, deadline - time.monotonic())
             for _ in range(SETUP_PROBES)]
    t1 = time.monotonic()

    passes, first_warm, traced = wl.plan(seed, seconds, trace)
    plan = {"cores": cores, "data": str(data_dir), "index_dir": str(index),
            "passes": passes, "traced_passes": traced,
            "gate": {"dir": str(gate), "keys": wl.keys}}
    plan_path, out_path = tmp / "plan.json", tmp / "result.json"
    env = dict(os.environ, SPARK_GRAFT_INDEX_DIR=str(index))
    plan["launch_epoch_us"] = time.time_ns() // 1000
    plan_path.write_text(json.dumps(plan))
    with open(tmp / "driver.log", "w") as err:
        proc = subprocess.run(
            build.java_cmd(classpath, tmp, "run", str(plan_path), str(out_path)),
            stdout=err, stderr=subprocess.STDOUT, env=env, cwd=tmp,
            timeout=deadline - time.monotonic())
    if proc.returncode != 0 or not out_path.is_file():
        tail = (tmp / "driver.log").read_text()[-3000:]
        raise RuntimeError(f"Driver exited with {proc.returncode}:\n{tail}")
    t2 = time.monotonic()
    result = json.loads(out_path.read_text())
    setup.append(result["setup_s"])
    stamp.update(spark_version=result["spark_version"],
                 java_version=result["java_version"],
                 max_heap_mb=result["max_heap_mb"],
                 peak_rss_mb=result["peak_rss_mb"])

    attempted, failed = metrics.counts(result)
    e2e, samples = metrics.end_to_end(result, setup, first_warm)
    stamp.update(samples)
    stamp["setup_samples_s"] = setup

    # correctness: graft's default-parameter outputs against DuckDB
    verdicts = oracle.check(gate, data_dir, tmp / "oracle_check.log",
                            timeout=deadline - time.monotonic())
    bad = {k: v for k, v in verdicts.items() if v is not None}
    correct = not bad
    stamp["phase_s"] = {"setup_probes": t1 - t0, "driver_jvm": t2 - t1,
                        "driver_gate": result["gate_s"],
                        "driver_passes": sum(p["wall_s"] for p in result["passes"]),
                        "oracle": time.monotonic() - t2}

    if trace:
        shown = metrics.per_layer(result, cores, first_warm,
                                  manifest["total_bytes"])
    else:
        shown = e2e

    stamp["loadavg_end"] = loadavg()
    cpu1 = cpu_times()
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        stamp["cpu_steal_frac"] = (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])
    record = {"stamp": stamp, "correct": correct, "mismatches": bad,
              "gate_errors": result["gate_errors"],
              "attempted": attempted, "failed": failed,
              "errors": sorted({c.get("error", "") for p in result["passes"]
                                for c in p["calls"] if not c["ok"]}),
              "end_to_end": {k: v for k, (v, _) in e2e.items()},
              "per_layer": ({k: v for k, (v, _) in shown.items()} if trace else None),
              "first_warm_pass": first_warm,
              "passes": [{k: p[k] for k in ("pass", "wall_s", "traced",
                                            "index_bytes_written", "calls")}
                         for p in result["passes"]]}
    name = f"{workload}-seed{seed}-trace{int(bool(trace))}"
    (runs / f"{name}.json").write_text(json.dumps(record, indent=1))
    if trace:
        spans = dict(result["trace"], span_counts=metrics.span_counts(result["trace"]))
        (runs / f"{name}.spans.json").write_text(json.dumps(spans))
    log(f"record: {runs / name}.json")

    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}}
