#!/usr/bin/env python3
"""The repository's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <stream_live|stream_backlog|catalog_core>
        --seed <n> --seconds <n> --trace <0|1>

Builds the program from source (perfbench/build.py), runs one workload in
one JVM (perfbench/src, `local[nproc]`), checks the outputs, and prints as
its last stdout line one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics of BENCHMARK.json with --trace 0, the
per-layer ones with --trace 1). The lines before it give the run's
conditions (source hash, cores, steal, load) and its sample counts.

Exit codes: 0 correct, 1 an output was wrong (the result is still
printed), 2 build failed, 3 the workload failed or timed out.

Traces of a --trace 1 run are kept under <build dir>/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("stream_live", "stream_backlog", "catalog_core")
JVM_TIMEOUT_S = 165
STEAL_LIMIT_PCT = 5.0
HASHES = os.path.join(build.HERE, "catalog_hashes.json")
# Per-layer metrics (by prefix) of the layers a workload never enters. A
# traced run reports them as 0; any other metric it could not measure is
# null, so a failed measurement never reads as a good value.
NOT_ENTERED = {
    "stream_live": ("cat.", "cp.", "ingest_eps_1core"),
    "stream_backlog": ("cat.", "cp.", "gen.", "serve.", "self.serve_ms", "state.", "wm.",
                       "upsert.players", "upsert.genre"),
    "catalog_core": ("src.", "gen.", "trig.", "parse.", "archive.", "upsert.", "state.", "wm.",
                     "serve.", "self.", "reconcile.", "ingest_eps_1core"),
}


def cpu_jiffies():
    """(total, steal) jiffies from the first line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            parts = [int(x) for x in f.readline().split()[1:]]
        return sum(parts[:8]), parts[7] if len(parts) > 7 else 0
    except (OSError, ValueError, IndexError):
        return 0, 0


def load_avg():
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_mem():
    """Half the machine's memory, clamped to 2..4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return f"{max(2, min(4, kb // 2 // 1048576))}g"
    except (OSError, StopIteration, ValueError):
        return "3g"


def run_jvm(workload, seed, seconds, trace, fault="none"):
    """Runs one workload in its own JVM; returns (result dict or None, work dir, log path)."""
    classes = build.ensure_built()
    work = os.path.join(build.build_dir(), "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    cmd = build.java_cmd(classes, driver_mem(), os.path.join(work, "tmp")) + [
        "perfbench.Main", "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", work, "--result", result, "--fault", fault]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()), SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(result):
        with open(log, errors="replace") as f:
            tail = f.read()[-4000:]
        sys.stderr.write(f"perfbench: workload {workload} failed ({rc}); JVM log tail:\n{tail}\n")
        return None, work, log
    with open(result) as f:
        return json.load(f), work, log


# ---- catalog result hashes: the same canonical form as tools/check.py ----

def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def table_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    h = hashlib.sha256()
    for r in sorted("\x01".join(canon(r[i]) for i in order) for r in rows):
        h.update(r.encode())
        h.update(b"\x00")
    return h.hexdigest()


def result_hashes(work):
    import duckdb
    con = duckdb.connect()
    out = {}
    base = os.path.join(work, "results")
    for name in sorted(os.listdir(base)):
        rows = con.execute(f"SELECT * FROM read_parquet('{os.path.join(base, name)}/*.parquet')").fetchall()
        out[name] = table_hash(rows, [c[0] for c in con.description])
    return out


def variant(seed):
    return seed % 4


def catalog_gate(res, work, seed):
    """Each query's result hash must equal the frozen oracle hash of its input variant."""
    with open(HASHES) as f:
        frozen = json.load(f)[str(variant(seed))]
    got = result_hashes(work)
    for q in sorted(set(frozen) | set(got)):
        if frozen.get(q) != got.get(q):
            res["failed"] += 1
            res["failures"].append(f"1 × {q} result hash {str(got.get(q))[:12]} != frozen {str(frozen.get(q))[:12]}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fault", choices=("none", "drop_event"), default="none",
                    help="seed a fault the correctness gate must catch (gate tests)")
    a = ap.parse_args()

    try:
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        build.ensure_built()
    except (OSError, ValueError, build.BuildError) as e:
        sys.stderr.write(f"perfbench: cannot build the program: {e}\n")
        return 2

    j0, s0 = cpu_jiffies()
    load0 = load_avg()
    t0 = time.time()
    res, work, _ = run_jvm(a.workload, a.seed, a.seconds, a.trace, a.fault)
    if res is None:
        return 3
    res.setdefault("failures", [])
    if a.workload == "catalog_core":
        try:
            catalog_gate(res, work, a.seed)
        except Exception as e:  # noqa: BLE001 - a gate that cannot run is a failed run
            sys.stderr.write(f"perfbench: catalog gate could not run: {e}\n")
            return 3
    j1, s1 = cpu_jiffies()
    steal = 100.0 * (s1 - s0) / (j1 - j0) if j1 > j0 else -1.0

    attempted = max(1, int(res["attempted"]))
    failed = int(res["failed"])
    res["metrics"]["fail_ratio"] = {"value": failed / attempted}
    names = spec["per_layer" if a.trace else "end_to_end"]
    metrics, missing = {}, []
    for m in names:
        got = res["metrics"].get(m["name"])
        value = None if got is None else got["value"]
        if value is None and a.trace and m["name"].startswith(NOT_ENTERED[a.workload]):
            value = 0.0
        elif value is None:
            missing.append(m["name"])
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    if missing and not a.trace:
        sys.stderr.write(f"perfbench: {a.workload} did not measure {', '.join(missing)}\n")
        return 3
    if missing:
        sys.stderr.write(f"perfbench: {a.workload} trace did not measure {', '.join(missing)} (null)\n")

    conditions = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "source_hash": build.source_hash()[:16], "nproc": cores(), "master": res["info"].get("master"),
        "steal_pct": round(steal, 3), "load_before": round(load0, 2), "load_after": round(load_avg(), 2),
        "comparable": 0 <= steal <= STEAL_LIMIT_PCT, "wall_s": round(time.time() - t0, 2),
    }
    print(json.dumps({"conditions": conditions}))
    print(json.dumps({"info": res["info"], "fail_ratio": failed / attempted, "failures": res["failures"]}))
    if a.trace:
        traces = os.path.join(build.build_dir(), "traces", f"{a.workload}-seed{a.seed}")
        shutil.rmtree(traces, ignore_errors=True)
        if os.path.isdir(os.path.join(work, "trace")):
            os.makedirs(os.path.dirname(traces), exist_ok=True)
            shutil.move(os.path.join(work, "trace"), traces)
            print(json.dumps({"traces": os.path.relpath(traces, build.ROOT)}))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
