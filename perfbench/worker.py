"""One workload run in a fresh process: set-up, timed phase, checks.

Started by ``run.py`` as ``worker.py WORK_DIR SPAWN_TIME``; reads
``WORK_DIR/meta.json`` and writes ``WORK_DIR/result.json``.  CPU is read
from /proc for this process and everything under it (the Spark JVM, the
PySpark daemon and its Python workers).
"""

import sys

sys.dont_write_bytecode = True

import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

from perfbench import procfs  # noqa: E402
from perfbench.trace import SparkCounters, Tracer, p50_ms  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

def setup(w, sampler: procfs.TreeSampler, spawn_t: float):
    """The set-up a user pays, from process start: imports, JVM launch,
    ``SparkSession``, one trivial job, ``Database`` open over the inputs
    and empty stores.  Wall time and process-tree CPU of the whole span,
    and the wall time of its parts."""
    from pandas_db_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark()
    t1 = time.perf_counter()
    # one trivial job: the first job of a context pays executor and
    # scheduler start-up that no read should be charged for
    spark.range(1).count()
    t2 = time.perf_counter()
    w.open(spark)
    parts = {"start": t1 - t0, "warmup": t2 - t1,
             "open": time.perf_counter() - t2,
             "wall": time.time() - spawn_t, "cpu": sampler.total()}
    return spark, parts


def timed_phase(w, rounds: int, tr: Tracer, sampler, counters):
    acc = {"read": 0.0, "append": 0.0}
    n = {"read": 0, "append": 0}
    rows = 0
    split = {"driver": 0.0, "jvm": 0.0, "worker": 0.0}
    done, failed, wall = [], 0, {}
    files = []
    prev = sampler.sample()
    for r in range(rounds):
        for op in w.ops(r):
            tr.op_id += 1
            if counters:
                counters.begin()
                files_before = w.store_files()
            first_span = len(tr.spans)
            t0 = time.perf_counter()
            try:
                with tr.span("op." + op.name):
                    op.result = op.fn()
            except Exception:
                failed += 1
                traceback.print_exc()
                op.result = None
            else:
                done.append(op)
                n[op.kind] += 1
                rows += op.rows
            wall.setdefault(op.name, []).append(time.perf_counter() - t0)
            cur = sampler.sample()
            for k in split:
                split[k] += cur[k] - prev[k]
            acc[op.kind] += sum(cur.values()) - sum(prev.values())
            prev = cur
            if counters:
                counts = counters.end()
                counts["kind"] = op.kind
                counts["repeat"] = op.repeat_of is not None
                tr.spans[first_span].counts = counts
                if op.kind == "append" and op.rows:
                    files.append(w.store_files() - files_before)
    return {"cpu": acc, "n": n, "rows": rows, "split": split,
            "done": done, "failed": failed,
            "attempted": len(done) + failed,
            "wall": wall, "files": files}


def _gc_ms(spark) -> float:
    beans = (spark._jvm.java.lang.management.ManagementFactory
             .getGarbageCollectorMXBeans())
    return float(sum(b.getCollectionTime() for b in beans))


def layer_metrics(tr: Tracer, w, su, ph, host, gc_ms, rss_mb,
                  sample_ms) -> dict[str, float]:
    """Per-layer figures of a traced run; 0 where a layer is not used by
    the workload."""
    self_t = tr.self_times()
    out = {
        "session.start_s": su["start"],
        "session.warmup_s": su["warmup"],
        "database.open_s": su["open"],
    }
    for name in ("column.build", "column.scalar", "column.group",
                 "table.sort_limit", "database.query", "iloc.slice",
                 "operators.dedup", "operators.components",
                 "operators.quality", "operators.lm",
                 "streaming.hh_append", "streaming.hll_append",
                 "streaming.kmv_append", "streaming.hist_append",
                 "streaming.drift_append", "streaming.dedup_ingest",
                 "streaming.compact", "streaming.serve"):
        out[name + "_ms"] = p50_ms(self_t.get(name, []))
    ops = [s for s in tr.spans if s.counts]
    reads = [s.counts for s in ops if s.counts["kind"] == "read"]
    appends = [s.counts for s in ops if s.counts["kind"] == "append"]
    repeats = [s for s in ops if s.counts["repeat"]]

    def mean(xs):
        return statistics.fmean(xs) if xs else 0.0
    out.update({
        "cache.hit_ms": p50_ms([s.end - s.start for s in repeats]),
        "cache.hit_ratio": (sum(1 for s in repeats if s.counts["jobs"] == 0)
                            / len(repeats) if repeats else 0.0),
        "cache.entries": float(len(w.db.cache)) if repeats else 0.0,
        "streaming.files_per_append": mean(ph["files"]),
        "spark.jobs_per_read": mean([c["jobs"] for c in reads]),
        "spark.stages_per_read": mean([c["stages"] for c in reads]),
        "spark.tasks_per_read": mean([c["tasks"] for c in reads]),
        "spark.shuffle_kb_per_read": mean(
            [c["shuffle_bytes"] / 1024 for c in reads]),
        "spark.jobs_per_append": mean([c["jobs"] for c in appends]),
        "spark.tasks_per_append": mean([c["tasks"] for c in appends]),
        "python.driver_cpu_s": ph["split"]["driver"],
        "jvm.cpu_s": ph["split"]["jvm"],
        "python.worker_cpu_s": ph["split"]["worker"],
        "jvm.gc_ms": gc_ms,
        "jvm.peak_rss_mb": rss_mb,
        "host.steal_ticks": float(host["steal"]),
        "host.iowait_ticks": float(host["iowait"]),
        "host.loadavg": host["loadavg"],
        "bench.sample_cpu_ms": sample_ms,
        "bench.timed_wall_s": host["wall_s"],
    })
    return out


def main() -> int:
    work, spawn_t = sys.argv[1], float(sys.argv[2])
    with open(os.path.join(work, "meta.json")) as f:
        meta = json.load(f)
    sampler = procfs.TreeSampler()
    tr = Tracer(bool(meta["trace"]))
    w = WORKLOADS[meta["workload"]](work, meta, tr)
    spark, su = setup(w, sampler, spawn_t)
    counters = SparkCounters(spark) if tr.enabled else None
    gc0 = _gc_ms(spark) if tr.enabled else 0.0
    host0, t0 = procfs.host_ticks(), time.perf_counter()
    ph = timed_phase(w, meta["rounds"], tr, sampler, counters)
    host1, wall_s = procfs.host_ticks(), time.perf_counter() - t0
    host = {k: host1[k] - host0[k] for k in host0}
    host.update(loadavg=procfs.loadavg(), wall_s=wall_s)
    gc_ms = _gc_ms(spark) - gc0 if tr.enabled else 0.0
    rss = max([procfs.peak_rss_mb(p) for p in sampler.pids_of("java")],
              default=0.0)
    store_bytes = w.store_bytes()
    t_check = time.perf_counter()
    fails = w.check(ph["done"])
    print("perfbench: set-up " + json.dumps(
        {k: round(v, 3) for k, v in su.items()}), file=sys.stderr)
    print(f"perfbench: setup {su['wall']:.1f} s, "
          f"timed {wall_s:.1f} s, checks "
          f"{time.perf_counter() - t_check:.1f} s", file=sys.stderr)
    for msg in fails:
        print("CHECK FAILED:", msg, file=sys.stderr)
    sample_ms = sampler.own_cpu_s / max(1, sampler.samples) * 1e3
    e2e = {
        "setup_s": su["wall"],
        "setup_cpu_s": su["cpu"],
        "read_cpu_ms": ph["cpu"]["read"] / max(1, ph["n"]["read"]) * 1e3,
        "append_cpu_us_per_row": ph["cpu"]["append"] / max(1, ph["rows"])
        * 1e6,
        "store_bytes_per_row": store_bytes / max(1, ph["rows"]),
    }
    result = {
        "correct": not fails,
        "attempted": ph["attempted"],
        "failed": ph["failed"] + len(fails),
        "end_to_end": e2e,
        "host": {"steal_ticks": host["steal"], "iowait_ticks":
                 host["iowait"], "loadavg": host["loadavg"],
                 "timed_wall_s": round(wall_s, 3),
                 "sample_cpu_ms": round(sample_ms, 4),
                 "samples": sampler.samples,
                 "reads": ph["n"]["read"], "appends": ph["n"]["append"],
                 "rows_offered": ph["rows"], "store_bytes": store_bytes,
                 "wall_p50_ms": {k: round(p50_ms(v), 1)
                                 for k, v in sorted(ph["wall"].items())}},
    }
    if tr.enabled:
        result["per_layer"] = layer_metrics(
            tr, w, su, ph, host, gc_ms, rss, sample_ms)
        result["spans"] = tr.dump()
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
