"""The two workloads: ``analyst`` and ``curate``.

Each workload class has four parts:

* ``prepare`` (parent process, before the clock): writes every input of
  every round from the seed and returns a JSON-able description;
* ``open`` (set-up): opens the ``Database`` and creates empty stores;
* ``ops(r)``: the operations of round ``r``, each a read or an append;
* ``check``: compares the recorded outputs with computations made apart
  from the program (see ``checks.py``).

Every round of a workload runs the same operation kinds in the same order;
only the predicate constants and the input batches change with the round.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pyarrow.parquet as pq

from perfbench import checks, gen

HIST_GEOMETRY = (0.0, 1024.0, 256)  # width 4: every bin edge is exact
QUANTILES = [0.5, 0.9, 0.99]


@dataclass
class Op:
    kind: str               # "read" or "append"
    name: str               # operation class, e.g. "scalar.avg"
    fn: Callable[[], Any]
    rows: int = 0           # input rows offered to stores (appends)
    repeat_of: "Op | None" = None   # the read this one repeats verbatim
    result: Any = None
    info: dict = field(default_factory=dict)


def _collect(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def _files_under(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


class Workload:
    name = ""
    round_s = 10.0          # nominal seconds per round on the reference box

    def __init__(self, work: str, meta: dict, tr):
        self.work, self.meta, self.tr = work, meta, tr
        self.spark = None
        self.db = None

    # -- set-up -----------------------------------------------------------
    def store_dirs(self) -> list[str]:
        return []

    def open(self, spark) -> None:
        from pandas_db_spark import Database
        self.spark = spark
        for d in self.store_dirs():
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(os.path.dirname(d), exist_ok=True)
        self.db = Database(self.meta["db_dir"], spark=spark)

    def store_bytes(self) -> int:
        return sum(_files_under(d)[1] for d in self.store_dirs())

    def store_files(self) -> int:
        return sum(_files_under(d)[0] for d in self.store_dirs())


# ---------------------------------------------------------------------------
# analyst: interactive façade session over the star schema
# ---------------------------------------------------------------------------


class Analyst(Workload):
    """15 fresh façade reads, one served histogram read and 5 verbatim
    repeats per round (5 of 20 reads repeat: one in four), plus six
    ``events`` micro-batches folded into the histogram store and a
    compaction."""

    name = "analyst"
    round_s = 15.0
    REPEATED = ("scalar.avg", "group.value_counts", "iloc.slice",
                "query.nation", "table.sort_limit")
    TRICKLE = 6

    @staticmethod
    def prepare(work: str, seed: int, scale: float, rounds: int) -> dict:
        star = os.path.join(work, "star")
        sizes = gen.star_schema(star, seed, scale)
        ev = pq.read_table(os.path.join(star, "events.parquet"))
        batch = max(10, int(1000 * scale))
        trickle = []
        os.makedirs(os.path.join(work, "trickle"))
        for b in range(rounds * Analyst.TRICKLE):
            path = os.path.join(work, "trickle", f"b{b}.parquet")
            pq.write_table(ev.slice((b * batch) % (ev.num_rows - batch),
                                    batch), path)
            trickle.append(path)
        return {"db_dir": star, "sizes": sizes, "trickle": trickle,
                "batch_rows": batch, "seed": seed}

    def store_dirs(self) -> list[str]:
        return [os.path.join(self.work, "stores", "hist")]

    def _read(self, name: str, layer: str, build, action) -> Op:
        def fn():
            with self.tr.span("column.build"):
                handle = build()
            with self.tr.span(layer):
                return action(handle)
        return Op("read", name, fn)

    def _query(self, name: str, sql: str) -> Op:
        def fn():
            with self.tr.span("database.query"):
                pdf = self.db.query(sql)
            return [tuple(r) for r in pdf.itertuples(index=False)]
        op = Op("read", name, fn)
        op.info["sql"] = sql
        return op

    def ops(self, r: int) -> list[Op]:
        from pandas_db_spark.streaming import monitor as M
        rng = np.random.default_rng([self.meta["seed"], 7, r])
        db = self.db

        def u(lo, hi, nd=2):
            return round(float(rng.uniform(lo, hi)), nd)

        c = {"len": u(5e4, 4.5e5), "avg": u(5e4, 4.5e5),
             "status": str(rng.choice(["F", "O"])), "min": u(5, 45),
             "max": u(0.01, 0.09, 3), "median": u(2e4, 8e4),
             "sum": int(rng.integers(100, 14000)),
             "describe": u(-500, 9000), "vc": u(-500, 9000),
             "unique": u(950, 2050), "mode": u(5e4, 4.5e5),
             "sort": u(5e4, 4.5e5), "iloc": u(5e4, 4.5e5),
             "iloc_at": int(rng.integers(0, 1000)),
             "q_nation": u(-500, 9000), "q_prio": u(5e4, 4.5e5),
             "q_qty": u(5, 45)}
        o, li, cu, pa = db.orders, db.lineitem, db.customer, db.part
        hist = self.store_dirs()[0]
        lo, hi, nb = HIST_GEOMETRY

        def hist_append(b):
            with self.tr.span("streaming.hist_append"):
                M.append_histogram_batch(
                    self.spark.read.parquet(self.meta["trickle"][b]), b,
                    hist, "value", lo, hi, nb)

        def hist_compact():
            with self.tr.span("streaming.compact"):
                return M.compact_histogram_store(self.spark, hist)

        def hist_serve():
            with self.tr.span("streaming.serve"):
                return _collect(M.histogram_quantile_bounds(
                    self.spark, hist, QUANTILES))

        fresh = [
            self._read("scalar.len", "column.scalar",
                       lambda: o[o.o_totalprice > c["len"]], len),
            self._read("scalar.avg", "column.scalar",
                       lambda: o[(o.o_totalprice > c["avg"])
                                 & (o.o_orderstatus == c["status"])
                                 ].o_totalprice,
                       lambda h: h.avg()),
            self._read("scalar.min", "column.scalar",
                       lambda: li[li.l_quantity > c["min"]].l_extendedprice,
                       lambda h: h.min()),
            self._read("scalar.max", "column.scalar",
                       lambda: li[li.l_discount < c["max"]].l_extendedprice,
                       lambda h: h.max()),
            self._read("scalar.median", "column.scalar",
                       lambda: li[li.l_extendedprice > c["median"]
                                  ].l_quantity,
                       lambda h: h.median()),
            self._read("scalar.sum", "column.scalar",
                       lambda: o[o.o_custkey < c["sum"]].o_totalprice,
                       lambda h: h.sum()),
            self._read("scalar.describe", "column.scalar",
                       lambda: cu[cu.c_acctbal > c["describe"]].c_acctbal,
                       lambda h: h.describe()),
            self._read("group.value_counts", "column.group",
                       lambda: cu[cu.c_acctbal > c["vc"]].c_mktsegment,
                       lambda h: h.value_counts()),
            self._read("group.unique", "column.group",
                       lambda: pa[pa.p_retailprice > c["unique"]].p_brand,
                       lambda h: h.unique()),
            self._read("group.mode", "column.group",
                       lambda: o[o.o_totalprice > c["mode"]
                                 ].o_orderpriority,
                       lambda h: h.mode()),
            self._read("table.sort_limit", "table.sort_limit",
                       lambda: o[o.o_totalprice > c["sort"]].sort_values(
                           "o_totalprice", ascending=False).limit(5),
                       lambda h: h.data()),
            self._read("iloc.slice", "iloc.slice",
                       lambda: o[o.o_totalprice > c["iloc"]],
                       lambda h: h.iloc[c["iloc_at"]:c["iloc_at"] + 10]),
            self._query("query.nation",
                        "SELECT n_name, count(*) AS n, max(c_acctbal) AS m "
                        "FROM customer JOIN nation "
                        "ON c_nationkey = n_nationkey "
                        f"WHERE c_acctbal > {c['q_nation']} "
                        "GROUP BY n_name ORDER BY n_name"),
            self._query("query.priority",
                        "SELECT o_orderpriority, count(*) AS n, "
                        "min(l_extendedprice) AS lo FROM orders JOIN lineitem "
                        "ON o_orderkey = l_orderkey "
                        f"WHERE o_totalprice > {c['q_prio']} "
                        f"AND l_quantity > {c['q_qty']} "
                        "GROUP BY 1 ORDER BY 1"),
            Op("read", "streaming.serve", hist_serve),
        ]
        for op in fresh:
            op.info["c"] = c
        by_name = {op.name: op for op in fresh}
        repeats = [Op("read", "repeat." + name, by_name[name].fn,
                      repeat_of=by_name[name]) for name in self.REPEATED]
        appends = [Op("append", "streaming.hist_append",
                      lambda b=b: hist_append(b), self.meta["batch_rows"])
                   for b in range(r * self.TRICKLE, (r + 1) * self.TRICKLE)]
        compact = Op("append", "streaming.compact", hist_compact)
        # the serve sees every micro-batch of the round
        ops = appends + fresh + repeats + [compact]
        for op in ops:
            op.info["round"] = r
        return ops

    def check(self, done: list[Op]) -> list[str]:
        return checks.analyst(self.meta, done)


# ---------------------------------------------------------------------------
# curate: curation queries, near-dup ingest and the streaming sketch stores
# ---------------------------------------------------------------------------


class Curate(Workload):
    """An LLM-data curation pipeline.  Per round: one batch of new documents
    offered to the near-dup ingest and its store compacted; two crawl
    micro-batches folded into the drift, heavy-hitter, HLL and KMV stores
    and those stores compacted; the six registry curation reads over that
    round's corpus (exact and MinHash dedup, dedup components, Gopher and C4
    rules, bigram-LM scoring); the four sketch serves."""

    name = "curate"
    round_s = 45.0
    READS = (("dedup_exact", "operators.dedup"),
             ("dedup_minhash", "operators.dedup"),
             ("dedup_components", "operators.components"),
             ("gopher_rules", "operators.quality"),
             ("c4_rules", "operators.quality"),
             ("lm_score_bigram", "operators.lm"))
    MICRO = 2
    HH_CAPACITY = 512
    KMV_K = 256
    DRIFT_PPM = 20_000

    @staticmethod
    def prepare(work: str, seed: int, scale: float, rounds: int) -> dict:
        n_docs = max(100, int(1000 * scale))
        n_batch = max(40, int(100 * scale))
        n_crawl = max(20, int(200 * scale))
        corpora, batches, planted, offered = [], [], {}, {}
        for r in range(rounds):
            rng = np.random.default_rng([seed, 11, r])
            d = os.path.join(work, "corpora", f"c{r}")
            os.makedirs(d, exist_ok=True)
            ids, texts, _ = gen.corpus(rng, n_docs)
            gen.write_documents(os.path.join(d, "documents.parquet"),
                                rng, ids, texts)
            corpora.append(d)
        pool: list = []
        os.makedirs(os.path.join(work, "in"))
        for r in range(rounds):
            rng = np.random.default_rng([seed, 13, r])
            first = 1_000_000 + r * n_batch
            ids, texts, dups = gen.corpus(rng, n_batch, first, pool)
            path = os.path.join(work, "in", f"dedup_{r}.parquet")
            gen.write_table(path, {"doc_id": np.asarray(ids, "int64"),
                                   "text": texts})
            batches.append(path)
            planted.update({str(k): v for k, v in dups.items()})
            offered.update({str(i): t for i, t in zip(ids, texts)})
        offered_path = os.path.join(work, "offered.json")
        checks.dump_json(offered_path, {"offered": offered,
                                        "planted": planted})
        rng = np.random.default_rng([seed, 17])
        vocab = 20000
        ref = os.path.join(work, "in", "reference.parquet")
        gen.write_table(ref, {"text": gen.zipf_texts(rng, n_crawl, vocab)})
        crawl = []
        for b in range(rounds * Curate.MICRO):
            path = os.path.join(work, "in", f"crawl_{b}.parquet")
            # later batches shift the Zipf ranks, so the drift grows
            gen.write_table(path, {"text": gen.zipf_texts(
                rng, n_crawl, vocab, first_word=37 * b)})
            crawl.append(path)
        return {"db_dir": corpora[0], "corpora": corpora,
                "batches": batches, "batch_rows": n_batch,
                "offered_path": offered_path, "reference": ref,
                "crawl": crawl, "crawl_rows": n_crawl,
                "incoming": os.path.join(work, "incoming"),
                "stores": os.path.join(work, "stores")}

    def store_dirs(self) -> list[str]:
        s = self.meta["stores"]
        return [os.path.join(s, k) for k in
                ("corpus", "near", "drift", "hh", "hll", "kmv")]

    def open(self, spark) -> None:
        super().open(spark)
        for d in (self.meta["incoming"],
                  os.path.join(self.meta["stores"], "ckpt")):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        self.stream = (spark.readStream.schema("doc_id long, text string")
                       .option("maxFilesPerTrigger", 1)
                       .parquet(self.meta["incoming"]))

    def _op(self, kind: str, name: str, layer: str, call, rows=0) -> Op:
        def fn():
            with self.tr.span(layer):
                return call()
        return Op(kind, name, fn, rows)

    def ops(self, r: int) -> list[Op]:
        import pandas_db_spark.queries as Q
        from pandas_db_spark.operators.dedup import compact_dedup_store
        from pandas_db_spark.streaming import monitor as M
        from pandas_db_spark.streaming.ingest import run_dedup_ingest
        spark, meta = self.spark, self.meta
        corpus_dir, near, drift, hh, hll, kmv = self.store_dirs()
        batch = meta["batches"][r]

        def ingest():
            os.replace(batch, os.path.join(meta["incoming"],
                                           os.path.basename(batch)))
            run_dedup_ingest(self.stream, "text", "doc_id",
                             corpus_dir=corpus_dir, store_dir=near,
                             checkpoint_dir=os.path.join(meta["stores"],
                                                         "ckpt"),
                             mode="near")
        ops = [self._op("append", "dedup_ingest", "streaming.dedup_ingest",
                        ingest, meta["batch_rows"]),
               self._op("append", "compact.near", "streaming.compact",
                        lambda: compact_dedup_store(spark, near,
                                                    mode="near"))]
        ref = meta["reference"]
        for b in range(r * self.MICRO, (r + 1) * self.MICRO):
            def df(b=b):
                return spark.read.parquet(meta["crawl"][b])
            rows = meta["crawl_rows"]
            ops += [
                self._op("append", "drift_append", "streaming.drift_append",
                         lambda b=b, df=df: M.append_drift_batch(
                             df(), b, drift, spark.read.parquet(ref)),
                         rows),
                self._op("append", "hh_append", "streaming.hh_append",
                         lambda b=b, df=df: M.append_heavy_hitters_batch(
                             df(), b, hh, capacity=self.HH_CAPACITY), rows),
                self._op("append", "hll_append", "streaming.hll_append",
                         lambda b=b, df=df: M.append_distinct_sketch_batch(
                             df(), b, hll), rows),
                self._op("append", "kmv_append", "streaming.kmv_append",
                         lambda b=b, df=df: M.append_kmv_batch(
                             df(), b, kmv, k=self.KMV_K), rows)]
        for name, call in (
                ("drift", lambda: M.compact_drift_counts(spark, drift)),
                ("kmv", lambda: M.compact_kmv_store(spark, kmv)),
                ("hll", lambda: M.compact_sketch_store(spark, hll)),
                ("hh", lambda: M.prune_heavy_hitter_store(spark, hh))):
            ops.append(self._op("append", "compact." + name,
                                "streaming.compact", call))
        reg = Q.queries()
        corpus = meta["corpora"][r]
        for qname, layer in self.READS:
            op = self._op("read", qname, layer, lambda qname=qname: _collect(
                reg[qname](spark, corpus)))
            op.info["corpus"] = corpus
            ops.append(op)
        ops += [
            self._op("read", "serve.heavy_hitters", "streaming.serve",
                     lambda: (_collect(M.heavy_hitters_topk(spark, hh, k=20)),
                              _collect(M.heavy_hitters_meta(spark, hh))[-1])),
            self._op("read", "serve.distinct", "streaming.serve",
                     lambda: _collect(M.distinct_estimate(spark, hll))),
            self._op("read", "serve.kmv", "streaming.serve",
                     lambda: _collect(M.kmv_estimate(spark, kmv))),
            self._op("read", "serve.drift", "streaming.serve",
                     lambda: (_collect(M.drift_alert(spark, drift,
                                                     self.DRIFT_PPM)),
                              _collect(M.drift_history(spark, drift))))]
        for op in ops:
            op.info["round"] = r
        return ops

    def check(self, done: list[Op]) -> list[str]:
        return checks.curate(self.meta, done, self.store_dirs()[0],
                             self.MICRO, self.KMV_K, self.DRIFT_PPM)


WORKLOADS = {w.name: w for w in (Analyst, Curate)}


def rounds_for(workload: str, seconds: float) -> int:
    """Rounds in the timed phase: a function of ``--seconds`` alone, so
    every run of a given length does the same work on any host."""
    return max(1, math.ceil(seconds / WORKLOADS[workload].round_s))
