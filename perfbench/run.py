"""CPU-cost benchmark of sparkdb: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload analyst --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke

Run from the root of a source checkout.  The inputs are generated from the
seed before the clock starts, under a work directory in the checkout that
the run removes again; Spark's local dirs, temp files, the stores and the
checkpoints live there too.  A worker process (``worker.py``) then sets up,
runs the timed phase and checks every output.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics of BENCHMARK.json, or with
``--trace 1`` its per-layer metrics).  The line before it, ``host: {...}``,
gives the host's steal and iowait ticks over the timed phase, the load
average, the cost of the benchmark's own /proc sampling and the wall time
per operation class.

``--smoke`` runs every workload once on sf0.001-sized inputs, traced, with
all checks on, and fails unless each is correct and reports exactly the
metrics BENCHMARK.json names: it is the benchmark's own test.
"""

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS, rounds_for  # noqa: E402

# Pinned, not derived from the host's core count: the CPU cost of a plan
# depends on its partition count, which the session sizes from this value.
SPARK_CPUS = "2"
DRIVER_MEM = "2g"


def worker_timeout_s(workload: str, rounds: int) -> float:
    """Set-up and checks, plus twice the nominal length of every round."""
    return 90 + rounds * 2 * WORKLOADS[workload].round_s


def _env(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": SPARK_CPUS,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONPATH": ROOT,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options -Djava.io.tmpdir={tmp} "
            f"--conf spark.sql.warehouse.dir={work}/warehouse "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    })
    return env


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(rest[2]) == pgid and rest[0] != "Z":
            return True
    return False


def _stop_group(proc: subprocess.Popen) -> None:
    """Wait for the worker and everything it started (the JVM outlives the
    Python process by a moment), killing the group if it lingers."""
    pgid = proc.pid
    deadline = time.time() + 20
    while _group_alive(pgid) and time.time() < deadline:
        time.sleep(0.1)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not _group_alive(pgid):
            break
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            break
        time.sleep(2)
    proc.wait()


def run_once(workload: str, seed: int, seconds: float, trace: bool,
             scale: float, rounds: int | None = None) -> dict:
    """Generate inputs, run the worker, return its result (raises on any
    failure of the worker)."""
    work = os.path.join(ROOT, f".perfbench-work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rounds = rounds or rounds_for(workload, seconds)
        meta = WORKLOADS[workload].prepare(work, seed, scale, rounds)
        meta.update(workload=workload, rounds=rounds, trace=int(trace))
        with open(os.path.join(work, "meta.json"), "w") as f:
            json.dump(meta, f)
        spawn_t = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), work,
             repr(spawn_t)],
            cwd=work, env=_env(work), stdout=sys.stderr,
            start_new_session=True)
        try:
            rc = proc.wait(timeout=worker_timeout_s(workload, rounds))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _stop_group(proc)
        if rc != 0:
            raise RuntimeError(f"worker ended with {rc!r}")
        with open(os.path.join(work, "result.json")) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {"end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
            "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]}}


def _metrics(values: dict, units: dict) -> dict:
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def smoke() -> int:
    declared = _declared()
    bad = 0
    for name in WORKLOADS:
        res = run_once(name, seed=0, seconds=1, trace=True, scale=0.01,
                       rounds=1)
        problems = []
        if not res["correct"] or res["failed"]:
            problems.append(f"{res['failed']} failed operations")
        for kind in ("end_to_end", "per_layer"):
            if set(res[kind]) != set(declared[kind]):
                problems.append(f"{kind} metrics differ from BENCHMARK.json: "
                                f"{sorted(set(res[kind]) ^ set(declared[kind]))}")
        print(f"smoke {name}: {'ok' if not problems else problems} "
              f"({res['attempted']} operations)")
        bad += bool(problems)
    return 1 if bad else 0


def main() -> int:
    # a terminated run still stops its worker and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "pandas_db_spark")):
        print("perfbench: no pandas_db_spark package next to perfbench/; "
              "run from the root of a source checkout", file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    res = run_once(args.workload, args.seed, args.seconds, bool(args.trace),
                   scale=1.0)
    declared = _declared()
    host = dict(res["host"])
    if args.trace:
        host["end_to_end"] = res["end_to_end"]
        kind, values = "per_layer", res["per_layer"]
        sys.stderr.write("spans: " + json.dumps(res["spans"]) + "\n")
    else:
        kind, values = "end_to_end", res["end_to_end"]
    print("host: " + json.dumps(host))
    print(json.dumps({"correct": res["correct"],
                      "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": _metrics(values, declared[kind])}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
