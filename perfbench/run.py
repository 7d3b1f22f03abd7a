#!/usr/bin/env python3
"""The graft benchmark: one command, one workload per call.

    python3 perfbench/run.py --workload tiles|ops|tilerun --seed N \\
        --seconds S --trace 0|1 [--smoke]

Run from the root of a checkout. The first call compiles the engine and the
benchmark (perfbench/build.py). Every call starts from a state it fixes
itself: it empties its own output directory, generates the workload's
inputs from the seed (ops reads the engine's fixed test tables, in a
seed-chosen query order), starts one benchmark JVM at local[nproc] (nproc =
the CPUs this process may run on), measures a closed loop with one client
for S seconds and checks the outputs. The one thing a call keeps for the
next is the list of ops output digests the DuckDB oracle accepted.

The last line of stdout is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1 (a traced run also writes its spans to
.bench_build/perfbench/run/<workload>/spans.json). The line before it is
a JSON record of the host and the run. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402

WORKLOADS = ("tiles", "ops", "tilerun")
# the engine's scale-0.01 test tables, which the ops queries read
TABLES = HERE / "tables" / "sf0.01"
JVM_TIMEOUT_S = 160


def bench_spec() -> dict:
    return json.loads((HERE.parent / "BENCHMARK.json").read_text())


def host_cpus() -> list:
    return sorted(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def heap_mb() -> int:
    """JVM heap from the host's memory: an eighth of MemTotal, 1-3 GB."""
    return int(min(3072, max(1024, mem_total_mb() / 8)))


def load_and_steal() -> dict:
    cpu = Path("/proc/stat").read_text().splitlines()[0].split()
    return {"load1": os.getloadavg()[0], "steal_s": int(cpu[8]) / 100.0 if len(cpu) > 8 else -1.0}


def scaling_levels(cpus: list):
    """(N, 4N) from the granted CPUs, or None when no such pair fits."""
    n = len(cpus) // 4
    return (n, 4 * n) if n >= 1 else None


def run_jvm(args: list, out: Path, cpus: list, log_name: str) -> dict:
    """Runs the benchmark JVM pinned to `cpus`; returns its result.json."""
    heap = heap_mb()
    cmd = [build.java(), f"-Xms{heap}m", f"-Xmx{heap}m", f"-Xmn{heap // 4}m", "-XX:+UseG1GC",
           "-XX:-UsePerfData",
           f"-XX:ActiveProcessorCount={len(cpus)}",
           f"-Djava.io.tmpdir={out / 'tmp'}"] + build.jvm_opts() + [
        "-cp", build.classpath(), "perfbench.Main",
        "--cores", str(len(cpus)), "--out", str(out)] + args
    (out / "tmp").mkdir(parents=True, exist_ok=True)
    log = out / log_name
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                                preexec_fn=lambda: os.sched_setaffinity(0, cpus))
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"benchmark JVM timed out; log: {log}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result = out / "result.json"
    if code != 0 or not result.exists():
        tail = log.read_text()[-3000:]
        raise RuntimeError(f"benchmark JVM failed (exit {code}):\n{tail}")
    res = json.loads(result.read_text())
    result.unlink()
    return res


def verified_file() -> Path:
    """The ops outputs the oracle check accepted in this build directory, one
    line per (query, oracle SQL, output digest), for these tables."""
    h = hashlib.sha256()
    for f in sorted(TABLES.glob("*.parquet")):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return build.OUT / f"oracle-accepted-{h.hexdigest()[:16]}.txt"


def check_oracle(oracle_dir: Path) -> dict:
    """Runs the engine's oracle check (tools/check_oracle.py) over the ops
    tables and the queries' written outputs; returns {query: "OK" or why not}."""
    want = json.loads((oracle_dir / "oracle_sql.json").read_text())
    if not want:
        return {}
    p = subprocess.run([sys.executable, str(HERE.parent / "tools" / "check_oracle.py"),
                        str(TABLES), str(oracle_dir)], capture_output=True, text=True,
                       timeout=JVM_TIMEOUT_S)
    got = {}
    for line in p.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\w+): (.*)", line)
        if m:
            got[m.group(2)] = "OK" if m.group(1) == "PASS" else m.group(3)
    why = f"no verdict (checker exit {p.returncode}: {p.stderr.strip()[-300:]})"
    return {q: got.get(q, why) for q in want}


def measure(workload: str, seed: int, seconds: float, trace: bool, smoke: bool) -> dict:
    root = HERE.parent
    build.build()
    out = root / ".bench_build" / "perfbench" / "run" / workload
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    cpus = host_cpus()
    host = {"nproc": len(cpus), "cpus": cpus, "mem_total_mb": round(mem_total_mb()),
            "heap_mb": heap_mb(), "levels": {"main": len(cpus), "scaling": scaling_levels(cpus)}}
    jvm_args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", "1" if trace else "0", "--smoke", "1" if smoke else "0"]

    if workload == "ops":
        accepted = verified_file()
        jvm_args += ["--tables", str(TABLES), "--verified", str(accepted)]

    before = load_and_steal()
    spawn = time.time()
    res = run_jvm(jvm_args, out, cpus, "jvm.log")
    jvm_s = time.time() - spawn
    after = load_and_steal()
    session_s = res["session_ready_ms"] / 1000.0 - spawn
    attempted, failed = res["attempted"], res["failed"]
    failures = list(res["failures"])

    if workload == "ops":
        # an output digest accepted before counts as a passed oracle check
        attempted += len(res["oracle_accepted"])
        for q, v in check_oracle(Path(res["oracle_dir"])).items():
            attempted += 1
            if v == "OK":
                with open(accepted, "a") as f:
                    f.write(res["oracle_keys"][q] + "\n")
            else:
                failed += 1
                failures.append(f"{q} oracle: {v}")

    info = {"host": host, "java_version": res["java_version"], "workload": workload,
            "seed": seed, "seconds": seconds, "trace": trace,
            "load_steal_before": before, "load_steal_after": after,
            "session_s": session_s, "jvm_s": jvm_s, "failures": failures[:20]}
    for k in ("raw_items_per_s", "cold_s", "measured_calls", "measured_rounds", "measured_runs",
              "logical_images", "tile_rows",
              "input_rows", "groups", "query_order", "warm_s", "cold_by_query",
              "warm_by_query", "warm_cpu_by_query", "call_s", "net_s", "cpu_s", "run_s", "workload_s",
              "oracle_accepted"):
        if k in res:
            info[k] = res[k]

    if trace:
        layers = dict(res["layers"])
        if workload == "tiles":
            eff, detail = scaling(jvm_args, out, cpus)
            layers["scaling.eff"] = eff
            info["scaling"] = detail
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in bench_spec()["per_layer"]}
        info["spans"] = str(out / "spans.json")
    else:
        values = {"items_per_s": res["items_per_s"], "items_per_cpu_s": res["items_per_cpu_s"],
                  "cold_cpu_s": res["cold_cpu_s"],
                  "setup_s": session_s + res.get("setup_in_jvm_s", 0.0),
                  "peak_rss_mb": res["peak_rss_mb"]}
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                   for m in bench_spec()["end_to_end"]}
    return {"info": info, "attempted": attempted, "failed": failed, "metrics": metrics}


def scaling(jvm_args: list, out: Path, cpus: list):
    """throughput(4N) / (4 x throughput(N)), each level in its own child JVM
    pinned to the first N (4N) granted CPUs."""
    levels = scaling_levels(cpus)
    if levels is None:
        return 0.0, {"skipped": f"{len(cpus)} CPUs granted: no N -> 4N pair fits"}
    detail = {"levels": levels, "images_per_s": []}
    for n in levels:
        child = out / f"scale-{n}"
        child.mkdir(parents=True, exist_ok=True)
        args = jvm_args + ["--mode", "scale", "--reuse", str(out / "tiles-2")]
        r = run_jvm(args, child, cpus[:n], "jvm.log")
        detail["images_per_s"].append(r["images_per_s"])
    lo, hi = detail["images_per_s"]
    return hi / (4.0 * lo), detail


def _stop(signum, frame):
    # turn SIGTERM into an exception, so the JVM is killed and waited for
    raise KeyboardInterrupt


def main(argv=None) -> int:
    signal.signal(signal.SIGTERM, _stop)
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs, for the benchmark's own tests")
    a = p.parse_args(argv)
    try:
        r = measure(a.workload, a.seed, a.seconds, a.trace == 1, a.smoke)
    except (build.BuildError, RuntimeError, OSError, KeyError, KeyboardInterrupt) as e:
        print(f"[perfbench] {type(e).__name__}: {e}", file=sys.stderr)
        return 1
    print(json.dumps(r["info"]))
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": r["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
