"""Benchmark of lucene_spark's public API: seeded workloads, end-to-end
metrics, correctness checks and an opt-in per-layer trace.

Run from the repository root:

    python3 perfbench/run.py --workload query_head --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  With ``--trace 0``
the metrics are the end-to-end ones (``END_TO_END``); with ``--trace 1`` they
are the per-layer ones (``PER_LAYER``), measured by spans around the calls
this file makes into each layer and by Spark's status store.  The line before
it is a report: environment, sizes, input properties, sample counts, every
end-to-end metric including the ones that apply to one workload only, and
the queries whose results were wrong.

Workloads (one client, closed loop: a query is sent after the previous one
returns; ``local[N]`` with N = the cores this process may use):

- ``query_head``: head- and mid-term OR/AND/mixed queries, k in
  {10, 100, 1000}, drawn with repetition from a popularity-skewed pool, on an
  in-memory (Spark-cached) index; repeats let a result cache show.  At this
  size a query is orchestration-bound: the kernel's decode + block-max WAND
  top-k is a few per cent of it (``kernel.segment_topk.s`` in a traced run),
  too little for a kernel change to move ``query_p50_s`` past its bound.
- ``update_mixed``: an index written to parquet, then ``update_batch`` of
  documents that replace existing keys (tombstones + new segments),
  ``refresh_reader``, and distinct selective tail-term queries on the
  refreshed reader: the streaming layer, the tombstone deny-mask query path
  and postings read from parquet instead of Spark's cache.

Each run first warms the JVM and the Python workers with one untimed setup
of another seed's corpus, then sets up a workload's ``setups`` times
(corpus → build_index → materialize, plus write_index on update_mixed) and
reports the median.  For ``QUERY_SHARE`` of
the timed window it sends single ``search()`` calls; then the queries it sent
go through ``search_many`` again in batches of ``BATCH``.  Correctness is
checked after the window: every result must equal the driver-side exhaustive
replay (``prune=False``) of the same query; batched results must equal it
too; stopword-only and unknown-term queries must be empty; after an update no
tombstoned docid may appear.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
# end-to-end metrics printed in the report only: a run times too few queries
# for ten of them to lie beyond p90 and too few batches for a steady
# batch_qps, update_p50_s exists on update_mixed alone, and failed_frac is 0
# on a healthy run
REPORT_ONLY = {"query_p90_s": "s", "batch_qps": "queries/s", "update_p50_s": "s",
               "failed_frac": "ratio"}

# per-layer metric → the end-to-end metric it should move, and on which
# workload; printed with a traced run's report.  Every per-layer metric is
# printed on every workload, 0 where the layer does not run there.
MOVES = {
    "corpus.generate_pages.s": "setup_s; no query metric",
    "index.build_index.s": "build_docs_per_s, setup_s; both",
    "index.materialize.s": "build_docs_per_s, setup_s; both",
    "index.write_index.s": "setup_s; update_mixed",
    "index.jobs": "build_docs_per_s; both",
    "index.stages": "build_docs_per_s; both",
    "index.tasks": "build_docs_per_s; both",
    "index.failed_tasks": "build_docs_per_s; both",
    "index.executor_run_s": "build_docs_per_s; both",
    "index.executor_cpu_s": "build_docs_per_s; both",
    "index.shuffle_write_bytes": "build_docs_per_s; both",
    "index.shuffle_read_bytes": "build_docs_per_s; both",
    "index.ranging.jobs": "build_docs_per_s; both",
    "index.ranging.executor_run_s": "build_docs_per_s; both",
    "index.df_sketch.jobs": "build_docs_per_s; 0 below 250k docs",
    "index.df_sketch.executor_run_s": "build_docs_per_s; 0 below 250k docs",
    "index.norms_rollup.jobs": "build_docs_per_s; both",
    "index.norms_rollup.executor_run_s": "build_docs_per_s; both",
    "index.materialize.jobs": "build_docs_per_s; both",
    "index.materialize.executor_run_s": "build_docs_per_s; both",
    "index.encode_skew": "build_docs_per_s; both",
    "index.posting_rows": "index_bytes_per_text_byte; both",
    "index.posting_bytes": "index_bytes_per_text_byte; kernel decode on query_head",
    "index.segments": "query_p50_s; query_head",
    "index.terms": "index_bytes_per_text_byte; both",
    "search.compile.s": "query_p50_s; small on both",
    "search.term_dfs.s": "query_p50_s; both",
    "search.search.s": "query_p50_s; both (deny path on update_mixed)",
    "search.jobs_per_query": "query_p50_s; both",
    "search.stages_per_query": "query_p50_s; both",
    "search.tasks_per_query": "query_p50_s; both",
    "search.executor_run_s_per_query": "query_p50_s; both",
    "search.shuffle_bytes_per_query": "query_p50_s; both",
    "search.orchestration_s": "query_p50_s; both, most on update_mixed",
    "kernel.segment_topk.s": "none gated at these sizes (a few % of search.search.s); query_head",
    "kernel.segment_topk_exhaustive.s": "none (pruning baseline); query_head",
    "kernel.prune_speedup": "none gated at these sizes; query_head",
    "kernel.segments_per_query": "query_p50_s; query_head",
    "kernel.postings_decoded_per_query": "none gated at these sizes; query_head",
    "search.search_many.s": "batch_qps (report only); both",
    "search.search_many.jobs": "batch_qps (report only); both",
    "search.search_many.tasks": "batch_qps (report only); both",
    "streaming.update_batch.s": "update_p50_s (report only); update_mixed",
    "streaming.refresh_reader.s": "update_p50_s (report only); update_mixed",
    "streaming.jobs": "update_p50_s (report only); update_mixed",
    "streaming.bytes_written_per_doc": "update_p50_s (report only); update_mixed",
    "streaming.tombstones": "query_p50_s; update_mixed",
    "spark.job_floor_s": "none: environment baseline",
    "spark.pyworker_stage_floor_s": "none: environment baseline",
    "host.ceiling_probe_pre_s": "none: environment baseline",
    "host.ceiling_probe_post_s": "none: environment baseline",
    "host.cpu_steal_frac": "none: environment baseline",
    "trace.query_overhead_s": "none: traced minus untraced search()",
}

WORKLOADS = {
    "query_head": {"docs": 8_000, "setups": 4, "stream": "head", "updates": 0},
    "update_mixed": {"docs": 3_000, "setups": 4, "stream": "tail", "updates": 1,
                     "update_docs": 150},
}
BATCH = 8
QUERY_SHARE = 0.8
WARMUP_QUERIES = 4

# build jobs grouped by the lucene_spark function their call site names
BUILD_SITES = {
    "ranging": "index._ranged_with_offsets",
    "df_sketch": "index.estimate_head_terms",
    "norms_rollup": "index.build_index",
}


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    import numpy as np

    return float(np.quantile(np.asarray(xs, dtype=np.float64), q)) if xs else 0.0


def box() -> dict:
    cores = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {
        "cores": cores,
        "ram_gb": round(ram / 2**30, 1),
        # the driver JVM holds Spark's cache and the collected results; a
        # sixth of host RAM, 1–4 GiB, leaves room for the Python workers
        "driver_memory_gb": int(max(1, min(4, ram // 2**30 // 6))),
        "shuffle_partitions": 2 * cores,
    }


def revision() -> str:
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha256()
    for p in sorted((ROOT / "lucene_spark").rglob("*.py")):
        h.update(p.read_bytes())
    return "source-sha256:" + h.hexdigest()[:16]


def start_session(env: dict, work: Path):
    from pyspark.sql import SparkSession

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return (
        SparkSession.builder.master(f"local[{env['cores']}]")
        .appName("lucene_spark_perfbench")
        .config("spark.sql.shuffle.partitions", str(env["shuffle_partitions"]))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", f"{env['driver_memory_gb']}g")
        # -XX:-UsePerfData: no hsperfdata file outside the checkout.  A run
        # lives about a minute; with the C2 compiler on, the driver JVM kept
        # speeding up through it (setups up to 40% faster from first to
        # fourth), with C1 only it is steady after the warm-up.  -Xms: a
        # fixed heap, so heap resizing does not differ between runs.
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{env['driver_memory_gb']}g "
                "-XX:TieredStopAtLevel=1")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def stop_session(spark) -> None:
    """Stop Spark, then the JVM the session started, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (empty where there is none)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    if len(before) < 8 or len(after) < 8:
        return 0.0
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


class Bench:
    def __init__(self, args, env: dict, work: Path):
        from tracing import Tracer

        self.args = args
        self.env = env
        self.work = work
        self.cfg = dict(WORKLOADS[args.workload])
        self.cfg["docs"] = max(500, int(self.cfg["docs"] * args.scale))
        if "update_docs" in self.cfg:
            self.cfg["update_docs"] = max(20, int(self.cfg["update_docs"] * args.scale))
        self.spark = start_session(env, work)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(self.spark, enabled=bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.mismatches: list[str] = []
        self.layers: dict[str, list[float]] = {}
        self.setup_parts: list[dict[str, float]] = []

    def layer(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(float(value))

    def attempt(self, what: str, fn):
        """Run one operation; an exception counts as a failed operation."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 - a failing operation is counted, the run goes on
            self.failed += 1
            self.errors.append(f"{what}: {traceback.format_exc(limit=3)}")
            return None

    # -- setup ------------------------------------------------------------------

    def setup_once(self, i: int):
        from lucene_spark.corpus import generate_pages
        from lucene_spark.index import build_index, read_index, write_index

        spark, tr = self.spark, self.tracer
        t0 = time.perf_counter()
        with tr.span("corpus.generate_pages") as g:
            pdf = generate_pages(self.cfg["docs"], seed=self.args.seed)
        pages = spark.createDataFrame(pdf[["url", "text"]]).repartition(self.env["cores"])
        with tr.span("index.build_index", spark_group=True) as b:
            idx = build_index(spark, pages)
        with tr.span("index.materialize", spark_group=True) as m:
            idx.postings = idx.postings.persist()
            idx.termdict = idx.termdict.persist()
            idx.termdict.count()
            idx.postings.count()
            idx.norms.count()
        built_s = b["s"] + m["s"]
        if self.cfg["stream"] == "tail":
            out = self.work / f"index-{i}"
            with tr.span("index.write_index", spark_group=True) as w:
                write_index(idx, str(out))
                idx = read_index(spark, str(out))
            self.layer("index.write_index.s", w["s"])
        setup_s = time.perf_counter() - t0
        self.setup_parts.append({"generate": g["s"], "build": b["s"], "materialize": m["s"],
                                 "write": w["s"] if self.cfg["stream"] == "tail" else 0.0,
                                 "total": setup_s})

        self.layer("corpus.generate_pages.s", g["s"])
        self.layer("index.build_index.s", b["s"])
        self.layer("index.materialize.s", m["s"])
        if tr.enabled:
            self._build_layers(b["spark"], m["spark"])
        return pdf, idx, setup_s, self.cfg["docs"] / built_s

    def _build_layers(self, build: dict, mat: dict) -> None:
        for key in ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
                    "executor_cpu_s", "shuffle_write_bytes", "shuffle_read_bytes"):
            self.layer(f"index.{key}", build[key] + mat[key])
        for name, site in BUILD_SITES.items():
            s = build["by_site"].get(site, {"jobs": 0, "executor_run_s": 0.0})
            self.layer(f"index.{name}.jobs", s["jobs"])
            self.layer(f"index.{name}.executor_run_s", s["executor_run_s"])
        self.layer("index.materialize.jobs", mat["jobs"])
        self.layer("index.materialize.executor_run_s", mat["executor_run_s"])
        self.layer("index.encode_skew",
                   self.tracer.task_shuffle_read_skew(build["stages_read"] + mat["stages_read"]))

    def warm_up(self) -> float:
        """Start the Python workers and warm the JVM on the paths the timed
        setups take (build, materialize, and on update_mixed write and read)
        and on the query path, with another seed's corpus of the same size.
        The JVM keeps speeding up over the first timed setups too, so a run
        sets up several times and reports the median."""
        from lucene_spark.corpus import generate_pages
        from lucene_spark.index import build_index, read_index, write_index
        from lucene_spark.search import search, search_many

        t0 = time.perf_counter()
        spark = self.spark
        pdf = generate_pages(self.cfg["docs"], seed=self.args.seed + 7919)
        pages = spark.createDataFrame(pdf[["url", "text"]]).repartition(self.env["cores"])
        idx = build_index(spark, pages)
        idx.postings = idx.postings.persist()
        idx.termdict = idx.termdict.persist()
        idx.termdict.count()
        idx.postings.count()
        idx.norms.count()
        if self.cfg["stream"] == "tail":
            out = str(self.work / "warm-up")
            write_index(idx, out)
            idx = read_index(spark, out)
        search(idx, "court law", k=10)
        search_many(idx, {"a": "court", "b": "court AND law"}, k=10)
        spark.catalog.clearCache()
        shutil.rmtree(self.work / "warm-up", ignore_errors=True)
        return time.perf_counter() - t0

    def setup(self):
        setups, rates = [], []
        for i in range(self.cfg["setups"]):
            # a rebuild of the same corpus must not be served from the
            # previous build's cached frames
            self.spark.catalog.clearCache()
            if i:
                shutil.rmtree(self.work / f"index-{i - 1}", ignore_errors=True)
            self.attempted += 1
            pdf, idx, setup_s, rate = self.setup_once(i)
            setups.append(setup_s)
            rates.append(rate)
        return pdf, idx, setups, rates

    # -- index facts --------------------------------------------------------------

    def index_facts(self, idx) -> dict:
        from pyspark.sql import functions as F

        # the packed blobs plus the block-max / impact arrays stored beside
        # them, 8 bytes a long (size() of a null array is -1)
        blob = sum(F.coalesce(F.length(c), F.lit(0)) for c in
                   ("doc_blob", "freq_blob", "dl_blob", "tail_blob", "pos_blob"))
        arrays = sum(8 * F.greatest(F.size(c), F.lit(0)) for c in
                     ("block_last_docid", "imp_freqs", "imp_dls", "imp_offsets"))
        row = idx.postings.agg(F.sum(blob + arrays).alias("bytes"), F.count("*").alias("rows"),
                               F.countDistinct("seg").alias("segs")).collect()[0]
        facts = {"posting_bytes": int(row["bytes"]), "posting_rows": int(row["rows"]),
                 "segments": int(row["segs"])}
        if self.tracer.enabled:
            facts["terms"] = idx.termdict.count()
        return facts

    # -- updates -----------------------------------------------------------------

    def update(self, pdf, idx):
        import numpy as np

        from lucene_spark import streaming
        from lucene_spark.corpus import generate_pages

        out = self.work / f"index-{self.cfg['setups'] - 1}"
        rng = np.random.default_rng([self.args.seed, 3])
        times = []
        for u in range(self.cfg["updates"]):
            n = self.cfg["update_docs"]
            rows = rng.choice(len(pdf), n, replace=False)
            batch = pdf.iloc[np.sort(rows)][["url"]].reset_index(drop=True)
            batch["text"] = generate_pages(n, seed=self.args.seed + 1000 + u)["text"]
            batch_df = self.spark.createDataFrame(batch)
            before = dir_bytes(out)

            def one():
                with self.tracer.span("streaming.update_batch", spark_group=True) as ub:
                    streaming.update_batch(self.spark, batch_df, str(out), idx.seg_size)
                with self.tracer.span("streaming.refresh_reader", spark_group=True) as rr:
                    fresh = streaming.refresh_reader(self.spark, str(out))
                return ub, rr, fresh

            res = self.attempt(f"update {u}", one)
            if res is None:
                continue
            ub, rr, idx = res
            times.append(ub["s"] + rr["s"])
            self.layer("streaming.update_batch.s", ub["s"])
            self.layer("streaming.refresh_reader.s", rr["s"])
            self.layer("streaming.bytes_written_per_doc", (dir_bytes(out) - before) / n)
            if self.tracer.enabled:
                self.layer("streaming.jobs", ub["spark"]["jobs"] + rr["spark"]["jobs"])
        return idx, times

    # -- timed window ------------------------------------------------------------

    def window(self, idx, stream):
        from lucene_spark.search import search, search_many

        tr = self.tracer
        singles: list[tuple[str, int, object]] = []
        lat_plain, lat_traced = [], []
        batches: list[tuple[list[tuple[str, int]], dict | None]] = []
        batch_times = []
        cache = None
        if tr.enabled:
            from replay import PostingCache

            cache = PostingCache(idx)
        t_queries = time.perf_counter() + QUERY_SHARE * self.args.seconds
        n = 0
        while time.perf_counter() < t_queries or n < 2:
            q, k = next(stream)
            n += 1
            traced = tr.enabled and n % 2 == 1
            qid = f"q{n}"

            def one():
                with tr.span("search.search", qid=qid, spark_group=traced) as rec:
                    td = search(idx, q, k=k)
                return rec, td

            res = self.attempt(f"search {q!r} k={k}", one)
            if res is None:
                continue
            rec, td = res
            singles.append((q, k, td))
            (lat_traced if traced else lat_plain).append(rec["s"])
            if traced:
                self._query_layers(idx, cache, qid, q, k, rec)
        # the same stream again, through search_many in fixed-size batches
        issued = [(q, k) for q, k, _ in singles]
        n_batches = max(2, -(-len(issued) // BATCH))
        for b in range(n_batches):
            entries = [issued[(b * BATCH + j) % len(issued)] for j in range(BATCH)]
            queries = {f"b{j}": q for j, (q, _) in enumerate(entries)}
            ks = {f"b{j}": k for j, (_, k) in enumerate(entries)}

            def one():
                with tr.span("search.search_many", spark_group=tr.enabled) as rec:
                    out = search_many(idx, queries, k=10, ks=ks)
                return rec, out

            res = self.attempt(f"search_many {len(entries)} queries", one)
            if res is None:
                continue
            rec, out = res
            batches.append((entries, out))
            batch_times.append(rec["s"])
            self.layer("search.search_many.s", rec["s"])
            if tr.enabled:
                self.layer("search.search_many.jobs", rec["spark"]["jobs"])
                self.layer("search.search_many.tasks", rec["spark"]["tasks"])
        return singles, lat_plain, lat_traced, batches, batch_times

    def _query_layers(self, idx, cache, qid, q, k, rec) -> None:
        """Replay one traced query layer by layer (outside its timed span)."""
        from lucene_spark.search import term_dfs
        from replay import compile_query, plan_query, replay_topk

        tr = self.tracer
        sp = rec["spark"]
        with tr.span("search.compile", qid=qid) as c:
            comp = compile_query(idx, q)
        with tr.span("search.term_dfs", qid=qid, spark_group=True) as t:
            dfs = term_dfs(comp.terms, idx.termdict) if comp.terms else {}
        plan = plan_query(idx, comp, dfs)
        _, _, kern_s, segs, decoded = replay_topk(idx, plan, cache, k, prune=True)
        _, _, exh_s, _, _ = replay_topk(idx, plan, cache, k, prune=False)
        tr.spans.append({"name": "kernel.segment_topk", "qid": qid, "s": kern_s, "replay": True})
        tr.spans.append({"name": "kernel.segment_topk_exhaustive", "qid": qid, "s": exh_s,
                         "replay": True})
        self.layer("search.search.s", rec["s"])
        self.layer("search.compile.s", c["s"])
        self.layer("search.term_dfs.s", t["s"])
        self.layer("search.jobs_per_query", sp["jobs"])
        self.layer("search.stages_per_query", sp["stages"])
        self.layer("search.tasks_per_query", sp["tasks"])
        self.layer("search.executor_run_s_per_query", sp["executor_run_s"])
        self.layer("search.shuffle_bytes_per_query",
                   sp["shuffle_read_bytes"] + sp["shuffle_write_bytes"])
        self.layer("search.orchestration_s", rec["s"] - c["s"] - t["s"] - kern_s)
        self.layer("kernel.segment_topk.s", kern_s)
        self.layer("kernel.segment_topk_exhaustive.s", exh_s)
        if kern_s > 0:
            self.layer("kernel.prune_speedup", exh_s / kern_s)
        self.layer("kernel.segments_per_query", segs)
        self.layer("kernel.postings_decoded_per_query", decoded)

    # -- correctness ---------------------------------------------------------------

    def check(self, idx, dfs_corpus, singles, batches) -> None:
        """Compare every result with the exhaustive replay; outside the window."""
        from pyspark.sql import functions as F

        from querygen import expected_empty
        from replay import PostingCache, compile_query, plan_query, replay_topk, same_topdocs

        wanted = {(q, k) for q, k, _ in singles}
        for entries, _ in batches:
            wanted.update(entries)
        compiled = {q: compile_query(idx, q) for q, _ in wanted}
        terms = sorted({t for c in compiled.values() for t in c.terms})
        dfs = {}
        if terms:
            dfs = {r["term"]: r["df"] for r in
                   idx.termdict.filter(F.col("term").isin(terms)).select("term", "df").collect()}
        plans = {q: plan_query(idx, c, dfs) for q, c in compiled.items()}
        cache = PostingCache(idx)
        cache.fetch(sorted({t for p in plans.values() if p for t in p.scan_terms}))
        oracle = {}
        for q, k in wanted:
            d, s, *_ = replay_topk(idx, plans[q], cache, k, prune=False)
            if expected_empty(q, dfs_corpus) and len(d):
                self.mismatches.append(f"oracle non-empty for expected-empty {q!r}")
            oracle[(q, k)] = (d, s)

        def wrong(q, k, docids, scores) -> str | None:
            d, s = oracle[(q, k)]
            if not same_topdocs(docids, scores, d, s):
                return "differs from exhaustive replay"
            if expected_empty(q, dfs_corpus) and len(docids):
                return "expected empty"
            dead = cache.tombstones.intersection(int(x) for x in docids)
            if dead:
                return f"returns {len(dead)} tombstoned docids"
            return None

        for q, k, td in singles:
            why = wrong(q, k, td.docids, td.scores)
            if why:
                self.failed += 1
                self.mismatches.append(f"search {q!r} k={k}: {why}")
        for entries, out in batches:
            if out is None:
                continue
            bad = [
                f"{q!r} k={k}: {why}"
                for j, (q, k) in enumerate(entries)
                if (why := wrong(q, k, out[f"b{j}"].docids, out[f"b{j}"].scores))
            ]
            if bad:
                self.failed += 1
                self.mismatches.extend(f"search_many {b}" for b in bad)

    # -- the run -----------------------------------------------------------------

    def run(self) -> dict:
        import probes
        from querygen import corpus_dfs, head_stream, input_properties, tail_stream
        from lucene_spark.search import search, search_many

        args, tr, spark, cores = self.args, self.tracer, self.spark, self.env["cores"]
        warmup_s = self.warm_up()
        pdf, idx, setups, rates = self.setup()
        facts = self.index_facts(idx)
        text_bytes = int(pdf["text"].str.encode("utf-8").str.len().sum())
        dfs = corpus_dfs(pdf)
        update_times = []
        if self.cfg["updates"]:
            idx, update_times = self.update(pdf, idx)
        make = head_stream if self.cfg["stream"] == "head" else tail_stream
        # warm-up from a different seed: worker spin-up and first-plan costs
        warm = make(args.seed + 7919, dfs, self.cfg["docs"])
        for _ in range(WARMUP_QUERIES):
            q, k = next(warm)
            search(idx, q, k=k)
        search_many(idx, {f"w{j}": next(warm)[0] for j in range(4)}, k=10)

        if tr.enabled:
            self.layer("spark.job_floor_s", probes.job_floor_s(spark))
            self.layer("spark.pyworker_stage_floor_s", probes.pyworker_stage_floor_s(spark, cores))
            self.layer("host.ceiling_probe_pre_s", probes.ceiling_probe_s(spark, cores))
        stream = make(args.seed, dfs, self.cfg["docs"])
        issued: list[tuple[str, int]] = []

        def recording(s):
            for e in s:
                issued.append(e)
                yield e

        cpu0 = cpu_times()
        singles, lat_plain, lat_traced, batches, batch_times = self.window(idx, recording(stream))
        steal = steal_share(cpu0, cpu_times())
        self.layer("host.cpu_steal_frac", steal)
        if tr.enabled:
            self.layer("host.ceiling_probe_post_s", probes.ceiling_probe_s(spark, cores))
            if lat_plain and lat_traced:
                self.layer("trace.query_overhead_s", median(lat_traced) - median(lat_plain))
            self.layer("streaming.tombstones",
                       idx.tombstones.count() if idx.tombstones is not None else 0)
            for key in ("posting_rows", "posting_bytes", "segments", "terms"):
                self.layer(f"index.{key}", facts[key])
        self.check(idx, dfs, singles, batches)

        lat = lat_plain + lat_traced
        e2e = {
            "setup_s": median(setups),
            "build_docs_per_s": median(rates),
            "index_bytes_per_text_byte": facts["posting_bytes"] / text_bytes,
            "query_p50_s": quantile(lat, 0.5),
        }
        report_only = {"query_p90_s": quantile(lat, 0.9),
                       "batch_qps": BATCH / median(batch_times) if batch_times else 0.0,
                       "failed_frac": self.failed / max(1, self.attempted)}
        if update_times:
            report_only["update_p50_s"] = median(update_times)
        if tr.enabled:
            metrics = {n: {"value": median(self.layers.get(n, [])), "unit": unit}
                       for n, unit in PER_LAYER.items()}
        else:
            metrics = {n: {"value": v, "unit": END_TO_END[n]} for n, v in e2e.items()}
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "env": self.env_record(),
            "sizes": {"docs": self.cfg["docs"], "text_bytes": text_bytes, **facts,
                      "update_docs": self.cfg.get("update_docs", 0) * self.cfg["updates"]},
            "warmup_s": warmup_s,
            "setups_s": [{k: round(v, 4) for k, v in p.items()} for p in self.setup_parts],
            "window_cpu_steal_frac": steal,
            "query_latencies_s": [round(x, 4) for x in lat_plain + lat_traced],
            "samples": {"setups": len(setups), "queries": len(lat), "batches": len(batch_times),
                        "batch_size": BATCH, "updates": len(update_times)},
            "end_to_end": {n: {"value": v, "unit": END_TO_END[n]} for n, v in e2e.items()}
            | {n: {"value": v, "unit": REPORT_ONLY[n]} for n, v in report_only.items()},
            "inputs": input_properties(issued, dfs, self.cfg["docs"]),
            "mismatches": self.mismatches[:50],
            "errors": self.errors[:10],
        }
        if tr.enabled:
            report["per_layer_moves"] = MOVES
            report["trace_file"] = str(self.trace_path().relative_to(ROOT))
            tr.write(self.trace_path())
        return {"report": report,
                "result": {"correct": self.failed == 0 and not self.mismatches,
                           "attempted": self.attempted, "failed": self.failed,
                           "metrics": metrics}}

    def trace_path(self) -> Path:
        return ROOT / ".perfbench_work" / "traces" / f"{self.args.workload}-seed{self.args.seed}.jsonl"

    def env_record(self) -> dict:
        import numpy
        import pandas
        import pyarrow
        import pyspark

        return {**self.env, "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                "numpy": numpy.__version__, "pandas": pandas.__version__,
                "python": sys.version.split()[0], "revision": revision()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply corpus and update sizes (a smoke test uses a tiny scale)")
    args = ap.parse_args()

    if not (ROOT / "lucene_spark" / "__init__.py").is_file():
        print(f"perfbench: no lucene_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    # Python workers are started by the JVM; they import lucene_spark and
    # the probe functions by module name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)]
        + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else []))
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")  # overrides spark.local.dir
    # the launcher JVM spark-submit starts first would write its perf-data
    # file to the system temp directory, outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    env = box()
    bench = None
    try:
        bench = Bench(args, env, work)
        out = bench.run()
    finally:
        if bench is not None:
            stop_session(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": out["report"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
