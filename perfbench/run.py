"""End-to-end and per-layer benchmark of the spark-bm25 engine.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Each run starts one Spark session at local[4], builds its inputs from the
seed, bootstraps an index through `streaming.nrt.index_batch`, then runs
the workload's lanes for about `--seconds` seconds.  Every result is
checked against `oracle.LuceneOracle` built from the same rows.  The last
line of standard output is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with `--trace 0`, per-layer
metrics with `--trace 1`).  A wrong result or a failed check makes the
exit code non-zero.  See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402

CORES = 4
JVM_MEM = "4g"
K = 10

#: both workloads run one pipeline: bootstrap build (set-up), `appends`
#: NRT appends each followed by a cold reference-set probe, then cycles of
#: one timed rebuild of the base corpus, WARM_GAP warm passes,
#: DIST_QUERIES distributed queries and WARM_GAP more warm passes.  At least one
#: cycle runs, and another while it is expected to end within `--seconds`
#: of the first append.  The workloads differ in input size, vocabulary
#: and appends.  A traced run adds one append, so every layer is traced
#: in both workloads and `nrt.append_growth` compares two appends.
WORKLOADS = {
    # NRT: a small index fed a ~450-turn batch, queried as two segments
    "ingest": dict(vocab=300, base_convs=200, batch_convs=20, appends=1,
                   validate=True),
    # read-heavy: a larger single-segment index and vocabulary
    "serve": dict(vocab=600, base_convs=350, batch_convs=3, appends=0,
                  validate=False),
}
STREAM_LEN = 1000
WARM_GAP = 5
DIST_QUERIES = 8

#: reference-set positions run on DistributedSearcher, in turn: single,
#: 2-AND, 2-OR, mixed
DIST_SUBSET = (0, 10, 25, 40)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pct(values, q: float) -> float:
    """q-th percentile, refused unless at least ten samples lie beyond."""
    v = np.sort(np.asarray(values, dtype=np.float64))
    beyond = v.size - int(np.ceil(q / 100.0 * v.size))
    if beyond < 10:
        raise RuntimeError(f"p{q:g} needs 10 samples beyond it, "
                           f"have {v.size} samples")
    return float(np.percentile(v, q))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


#: the probe's work: sort and scan a fixed 20k-element array 100 times
_PROBE_X = np.random.default_rng(0).random(20_000)
#: the probe's time on the reference host (about its median on a shared
#: 4-vCPU VM).  The warm-lane metrics, single-thread work like the probe,
#: are reported at that host speed: raw times are scaled by PROBE_REF_S
#: over the median of the probes the run takes around its warm passes.
PROBE_REF_S = 0.05


def probe_s() -> float:
    """Wall time of a fixed single-thread numpy workload: how fast the
    shared host runs this process right now."""
    t0 = time.perf_counter()
    for _ in range(100):
        np.argsort(_PROBE_X)
        np.cumsum(_PROBE_X)
    return time.perf_counter() - t0


# ------------------------------------------------------------ environment


def prepare_env(root: str, work: str) -> None:
    """Pin everything a run depends on and keep every output in `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_DRIVER_MEM"] = JVM_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # the JVM's perf-data file would otherwise go to /tmp
    # C1 only: with the default tiered JIT, builds kept getting faster
    # over a dozen builds in one JVM, so a timed build read how far the
    # JIT had got; C1-only builds varied half as much from run to run
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.environ.pop("LSS_DENSE_BUDGET_MB", None)  # engine default applies


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


# ----------------------------------------------------------------- lanes


class Run:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, root: str):
        self.p = dict(WORKLOADS[workload])
        if trace:
            self.p["appends"] += 1
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.work = os.path.join(root, ".perfbench_work",
                                 f"{workload}-seed{seed}-trace{int(trace)}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        prepare_env(root, self.work)
        self.idx = os.path.join(self.work, "index")
        self.layer: dict[str, float] = {}
        #: checked results: (index state, lane, query, hits)
        self.results: list[tuple[int, str, str, list]] = []
        self.state = 0
        self.failures: list[str] = []
        self.attempted = 0
        self.tracer = None
        #: every probe time (s)
        self.probes: list[float] = []
        #: wall times of Spark-executed operations, by kind (s)
        self.ops: dict[str, list[float]] = {
            "append": [], "rebuild": [], "dist": []}
        self.cold_ms: list[float] = []
        self.visible_ms: list[float] = []
        self.open_ms: list[float] = []
        #: warm passes, untraced and traced: (per-query ms, pass wall s)
        self.passes: dict[bool, list[tuple[list[float], float]]] = {
            False: [], True: []}
        self.dist_layers: dict[str, list[float]] = {}
        self.build_layers: dict[str, list[float]] = {}

    # ---------------------------------------------------------- set-up
    def setup(self) -> None:
        t0 = time.perf_counter()
        from lucene_solr_spark.session import get_spark

        self.spark = get_spark("perfbench", cores=CORES, shuffle_partitions=8)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()

        import pyarrow.parquet as pq

        self.vocab = vocab = corpus.make_vocab(self.p["vocab"])
        self.tables = [corpus.gen_corpus(self.p["base_convs"], self.seed,
                                         vocab)]
        for i in range(self.p["appends"]):
            self.tables.append(corpus.gen_corpus(
                self.p["batch_convs"], self.seed, vocab,
                conv_base=self.p["base_convs"] + i * self.p["batch_convs"]))
        self.dirs = []
        for i, tb in enumerate(self.tables):
            d = os.path.join(self.work, "corpus", f"b{i}")
            os.makedirs(d)
            pq.write_table(tb, os.path.join(d, "part-0.parquet"))
            self.dirs.append(d)
        t2 = time.perf_counter()

        from sparkstats import StatusStore

        if self.trace:
            from spans import Tracer

            self.tracer = Tracer().install()
        self.ss = StatusStore(self.spark)
        from lucene_solr_spark.index.builder import BuildConfig

        self.cfg = BuildConfig(n_buckets=16, partitions=8)
        self._op("build", 0)
        self._index_batch(0)
        t3 = time.perf_counter()
        self.setup_s = t3 - t0
        self.layer.update({"setup.jvm_s": t1 - t0, "setup.corpus_s": t2 - t1,
                           "setup.base_build_s": t3 - t2})

    def probe(self) -> float:
        t = probe_s()
        self.probes.append(t)
        return t

    def timed_op(self, kind: str, fn) -> tuple[float, float]:
        """Run `fn` and record its wall time.  Returns the epoch time it
        started and its wall time."""
        wall0 = time.time()
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        self.ops[kind].append(dt)
        self.attempted += 1
        return wall0, dt

    def _op(self, lane: str, i) -> None:
        if self.tracer is not None:
            self.tracer.op = (lane, i)

    def _index_batch(self, i: int) -> None:
        from lucene_solr_spark.streaming import nrt

        df = self.spark.read.parquet(self.dirs[i])
        nrt.index_batch(self.spark, df, self.idx, self.cfg, batch_id=i)

    def _manifest(self) -> dict:
        with open(os.path.join(self.idx, "_manifest.json")) as f:
            return json.load(f)

    def _max_doc(self) -> int:
        from lucene_solr_spark.index.builder import read_field_stats

        return int(read_field_stats(self.idx)["max_doc"])

    def rebuild(self, i: int) -> None:
        """One timed `build_index` of the base corpus into a scratch
        directory, in the warm JVM; its stage figures feed builder.* and
        spark.*, and the directory is deleted afterwards."""
        from lucene_solr_spark.index.builder import (build_index,
                                                     read_field_stats)

        out = os.path.join(self.work, f"rebuild{i}")
        df = self.spark.read.parquet(self.dirs[0])
        mark = self.ss.mark()
        self._op("rebuild", i)
        wall0, wall = self.timed_op(
            "rebuild", lambda: build_index(self.spark, df, out, self.cfg))
        max_doc = int(read_field_stats(out)["max_doc"])
        if max_doc != self.tables[0].num_rows:
            self.failures.append(f"rebuild {i}: max_doc {max_doc}, base "
                                 f"has {self.tables[0].num_rows} rows")
        for name, v in self._build_layers(out, mark, wall0, wall).items():
            self.build_layers.setdefault(name, []).append(v)
        shutil.rmtree(out)

    def _build_layers(self, out: str, mark, wall0: float,
                      wall: float) -> dict[str, float]:
        """builder.* from manifest commit times, spark.* from the status
        store, codec/store sizes from the built index on disk."""
        import pyarrow.parquet as pq

        from sparkstats import postings_stages

        with open(os.path.join(out, "_manifest.json")) as f:
            at = {k: v["at"] for k, v in json.load(f)["committed"].items()}
        tail_end = max(at["term_stats"], at["lineage"])
        docmap_s = at["docmap"] - wall0
        postings_s = at["postings"] - at["docmap"]
        tail_s = tail_end - at["postings"]
        cover = (docmap_s + postings_s + tail_s) / wall
        if abs(cover - 1.0) > 0.05:
            self.failures.append(f"build stages cover {cover:.3f} of wall")
        ts = pq.read_table(os.path.join(out, "term_stats"),
                           columns=["doc_freq"])
        terms = ts.num_rows
        postings = int(np.asarray(ts.column("doc_freq")).sum())
        text_bytes = sum(len(t.encode()) for t in
                         self.tables[0].column("text").to_pylist())
        stages = self.ss.stages_since(mark)
        jobs = self.ss.jobs_since(mark)
        win = postings_stages(stages, at["docmap"], at["postings"])
        run = {k: sum(s.run_s for s in v) for k, v in win.items()}
        skew = [s.task_max_s / s.task_median_s for s in win["merge"]
                if s.task_median_s > 0]
        return {
            "builder.docmap_s": docmap_s, "builder.postings_s": postings_s,
            "builder.tail_s": tail_s, "builder.stage_cover": cover,
            "builder.terms": terms, "builder.postings": postings,
            "spark.invert_task_s": run["invert"],
            "spark.merge_task_s": run["merge"],
            "spark.write_task_s": run["write"],
            "spark.merge_ms_per_term": 1e3 * run["merge"] / max(terms, 1),
            "spark.chunk_shuffle_bytes_per_posting":
                sum(s.shuffle_write for s in win["invert"]) / postings,
            "spark.merge_task_skew": max(skew) if skew else 1.0,
            "spark.merge_tasks": sum(s.tasks for s in win["merge"]),
            "spark.slot_occupancy":
                sum(s.run_s for s in stages) / (CORES * wall),
            "spark.spill_bytes": sum(s.spill_bytes for s in stages),
            "spark.jobs": len(jobs),
            "spark.tasks": sum(s.tasks for s in stages),
            "spark.failed_tasks": sum(s.failed_tasks for s in stages),
            "codec.postings_bytes_per_posting":
                dir_bytes(os.path.join(out, "postings")) / postings,
            "store.docmap_bytes_per_text_byte":
                dir_bytes(os.path.join(out, "docmap")) / text_bytes,
        }

    # ---------------------------------------------------------- appends
    def appends(self) -> None:
        """NRT batches through `index_batch`, each followed by a cold
        reference-set probe on the reopened multi-segment index."""
        nrt_parts: dict[str, list[float]] = {}
        for i in range(1, self.p["appends"] + 1):
            before = self._max_doc()
            mark = self.ss.mark()
            self._op("append", i)
            t0, _ = self.timed_op("append", lambda: self._index_batch(i))
            self.state = i
            at = {k: v["at"] for k, v in
                  self._manifest()["committed"].items()}
            for name, v in (("nrt.docmap_s", at["docmap"] - t0),
                            ("nrt.postings_s", at["postings"] - at["docmap"]),
                            ("nrt.term_stats_s",
                             at["term_stats"] - at["postings"]),
                            ("nrt.lineage_s",
                             at["lineage"] - at["term_stats"]),
                            ("nrt.spark_jobs",
                             len(self.ss.jobs_since(mark)))):
                nrt_parts.setdefault(name, []).append(v)
            grew = self._max_doc() - before
            if grew != self.tables[i].num_rows:
                self.failures.append(
                    f"append {i}: max_doc grew {grew}, "
                    f"batch has {self.tables[i].num_rows} rows")
            self.cold_pass("nrt", self.visible_ms)
        if not self.ops["append"]:
            return
        for name, vs in nrt_parts.items():
            self.layer[name] = float(np.median(vs))
        dts = self.ops["append"]
        self.layer["nrt.append_s"] = statistics.median(dts)
        self.layer["nrt.append_growth"] = dts[-1] / dts[0]
        self.layer["nrt.segments"] = int(self._manifest()["next_seg"])

    def replay_check(self) -> None:
        """Re-delivering the last batch id must leave the index as is."""
        before, version = self._max_doc(), self._manifest()["version"]
        self._op("replay", self.state)
        self._index_batch(self.state)
        self.attempted += 1
        if (self._max_doc(), self._manifest()["version"]) != (before,
                                                              version):
            self.failures.append(f"replay of batch {self.state} changed "
                                 "the index")

    # ------------------------------------------------------- query lanes
    def cold_pass(self, lane: str, samples: list[float]) -> None:
        """Every reference-set query on a freshly opened searcher, timed
        from opening the searcher to the first hits."""
        from lucene_solr_spark.query.engine import LocalSearcher

        for qi, q in enumerate(self.refset):
            self._op(lane, (self.state, qi))
            t0 = time.perf_counter()
            s = LocalSearcher(self.idx)
            t1 = time.perf_counter()
            hits = s.search(q, K)
            t2 = time.perf_counter()
            self.attempted += 1
            self.open_ms.append(1e3 * (t1 - t0))
            samples.append(1e3 * (t2 - t0))
            self.results.append((self.state, lane, q, hits))

    def cycles(self, t0: float) -> None:
        """Cycles of one rebuild, warm passes, distributed queries and
        warm passes, so the warm lane samples the whole timed window
        between the Spark-executed operations.  After the first, a cycle
        starts while it is expected to end within `--seconds` of `t0`."""
        from lucene_solr_spark.query.distributed import DistributedSearcher
        from lucene_solr_spark.query.engine import LocalSearcher

        warm = LocalSearcher(self.idx)
        for q in self.stream:  # unmeasured pass
            warm.search(q, K)
        ds = DistributedSearcher(self.spark, self.idx)
        first: list = []
        c, last = 0, 0.0
        while c == 0 or time.perf_counter() - t0 + last <= self.seconds:
            c0 = time.perf_counter()
            self.rebuild(c)
            self.warm_passes(warm, first)
            for j in range(DIST_QUERIES):
                self.dist_query(ds, c * DIST_QUERIES + j)
            self.warm_passes(warm, first)
            last = time.perf_counter() - c0
            c += 1
        if self.tracer is not None:
            traced, plain = ([dt for _, dt in self.passes[t]]
                             for t in (True, False))
            self.layer["trace.overhead_share"] = (
                statistics.median(traced) / statistics.median(plain) - 1)
        for name, vs in self.dist_layers.items():
            self.layer[name] = float(np.median(vs))
        for name, vs in self.build_layers.items():
            self.layer[name] = float(np.median(vs))

    def warm_passes(self, searcher, first: list) -> None:
        """WARM_GAP passes of the Zipf stream on the long-lived
        searcher.  A traced run alternates untraced and traced passes to
        measure the tracer's own cost.  A probe runs before the first
        pass and after each one."""
        self.probe()
        for j in range(WARM_GAP):
            traced = self.tracer is not None and j % 2 == 1
            if self.tracer is not None:
                self.tracer.set_active(traced)
            self.passes[traced].append(self.warm_pass(searcher, first))
            self.probe()
        if self.tracer is not None:
            self.tracer.set_active(True)

    def warm_pass(self, searcher, first: list) -> tuple[list[float], float]:
        """One pass of the stream: per-query ms and the pass's wall time.
        The first pass's hits are checked, later ones must equal them."""
        check = not first
        ms = []
        t_pass = time.perf_counter()
        for qi, q in enumerate(self.stream):
            self._op("warm", qi)
            t0 = time.perf_counter()
            hits = searcher.search(q, K)
            ms.append(1e3 * (time.perf_counter() - t0))
            self.attempted += 1
            if check:
                first.append(hits)
                self.results.append((self.state, "warm", q, hits))
            elif hits != first[qi]:
                self.failures.append(f"warm pass differs on {q!r}")
        return ms, time.perf_counter() - t_pass

    def dist_query(self, ds, r: int) -> None:
        q = self.refset[DIST_SUBSET[r % len(DIST_SUBSET)]]
        mark = self.ss.mark()
        self._op("dist", r)
        out = []
        self.timed_op("dist", lambda: out.extend(ds.search(q, K)))
        self.results.append((self.state, "dist", q, out))
        st = self.ss.stages_since(mark)
        for name, v in (
                ("distributed.jobs", len(self.ss.jobs_since(mark))),
                ("distributed.tasks", sum(s.tasks for s in st)),
                ("distributed.task_s", sum(s.run_s for s in st)),
                ("distributed.shuffle_bytes",
                 sum(s.shuffle_read + s.shuffle_write for s in st))):
            self.dist_layers.setdefault(name, []).append(v)

    # ------------------------------------------------------ correctness
    def check(self) -> None:
        """Every recorded result against the oracle of its index state;
        DistributedSearcher also against LocalSearcher."""
        from lucene_solr_spark.oracle import LuceneOracle
        from lucene_solr_spark.query.engine import LocalSearcher
        from lucene_solr_spark.query.parser import parse_query

        local: dict[tuple[int, str], list] = {}
        for state, lane, q, hits in self.results:
            if lane != "dist":
                local.setdefault((state, q), hits)
        # distributed queries run on the final index; a query no local
        # lane asked there is asked here
        searcher = LocalSearcher(self.idx)
        for state, lane, q, _ in self.results:
            if lane == "dist" and (state, q) not in local:
                local[(state, q)] = searcher.search(q, K)
        by_state: dict[int, list] = {}
        for r in self.results:
            by_state.setdefault(r[0], []).append(r)
        for state, rows in sorted(by_state.items()):
            texts = [t for tb in self.tables[:state + 1]
                     for t in tb.column("text").to_pylist()]
            oracle = LuceneOracle().build(list(enumerate(texts)))
            want: dict[str, list] = {}
            for _, lane, q, hits in rows:
                if q not in want:
                    node = parse_query(q)
                    want[q] = oracle.search(node, K) if node else []
                if not same_hits(hits, want[q]):
                    self.failures.append(f"{lane} state {state}: {q!r} "
                                         f"{hits[:3]} != {want[q][:3]}")
                elif lane == "dist" and (state, q) in local and \
                        not same_hits(hits, local[(state, q)]):
                    self.failures.append(f"dist != local on {q!r}")
        if self.p["validate"]:
            from lucene_solr_spark.index.builder import validate_index

            src = self.spark.read.parquet(*self.dirs[:self.state + 1])
            v = validate_index(self.spark, src, self.idx)
            if not v["ok"]:
                self.failures.append(f"validate_index: {v}")

    # ----------------------------------------------------------- phases
    def timed(self) -> None:
        import pyarrow.parquet as pq

        # queries draw on the vocabulary by its Zipf rank, not on the
        # seed's observed doc frequencies, so every seed asks for the
        # same words
        terms = self.vocab.tolist()
        self.refset = corpus.reference_set(terms)
        self.stream = corpus.query_stream(terms, STREAM_LEN,
                                          self.seed)
        ts = pq.read_table(os.path.join(self.idx, "term_stats"),
                           filters=[("field", "=", "text")]).to_pandas()
        from lucene_solr_spark.analysis.analyzer import analyze
        from lucene_solr_spark.query.engine import LocalSearcher as LS

        # working set vs the searcher's dense-table cache: a term's table
        # is cached when df * _DENSE_CACHE_FRAC >= maxDoc + 1, at 5 bytes
        # per doc, in half the default budget
        df = dict(zip(ts["term"], ts["doc_freq"]))
        n = self._max_doc() + 1
        touched = {t for q in self.stream for t in analyze(q)} & set(df)
        self.layer["stream.distinct_terms"] = len(touched)
        self.layer["stream.cacheable_terms"] = sum(
            1 for t in touched if df[t] * LS._DENSE_CACHE_FRAC >= n)
        self.layer["engine.dense_tables_max"] = (
            (LS._DENSE_BUDGET_MB_DEFAULT << 20) // 2 // (5 * n))

        t0 = time.perf_counter()
        self.appends()
        self.cycles(t0)
        if self.trace:  # the cold lane's per-layer figures
            for _ in range(2):
                self.cold_pass("cold", self.cold_ms)

    def end_to_end(self, scaled: bool = True
                   ) -> dict[str, tuple[float, str]]:
        """The end-to-end metrics; warm-lane values at the reference host
        speed unless `scaled` is false (then as measured)."""
        f = PROBE_REF_S / statistics.median(self.probes) if scaled else 1.0
        passes = self.passes[False]
        warm = [m * f for ms, _ in passes for m in ms]
        text_bytes = sum(len(t.encode()) for tb in
                         self.tables[:self.state + 1]
                         for t in tb.column("text").to_pylist())
        return {
            "setup_s": (self.setup_s, "s"),
            "build_turns_per_s": (self.tables[0].num_rows
                                  / statistics.median(self.ops["rebuild"]),
                                  "turns/s"),
            "index_bytes_per_text_byte": (dir_bytes(self.idx) / text_bytes,
                                          "ratio"),
            "warm_p50_ms": (statistics.median(warm), "ms"),
            "warm_p95_ms": (pct(warm, 95), "ms"),
            "warm_qps": (statistics.median(
                len(ms) / (dt * f) for ms, dt in passes), "q/s"),
            "dist_p50_ms": (1e3 * statistics.median(self.ops["dist"]), "ms"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        tr = self.tracer
        selfs = tr.self_times()
        lanes: dict[str, dict[str, list[float]]] = {}
        for sp, st in zip(tr.spans, selfs):
            if sp.op is None:
                continue
            d = lanes.setdefault(sp.op[0], {})
            d.setdefault(sp.name, []).append(1e3 * (sp.end - sp.start))
            d.setdefault(sp.name + "#self", []).append(1e3 * st)
            d.setdefault(sp.name + "#count", []).append(sp.count)
        out = {k: (v, UNITS.get(k, "s")) for k, v in self.layer.items()}
        out["host.capacity"] = (1 / statistics.median(self.probes), "1/s")
        out["engine.open_ms"] = (statistics.median(self.open_ms), "ms")
        out["cold.p50_ms"] = (statistics.median(self.cold_ms), "ms")
        out["cold.p90_ms"] = (pct(self.cold_ms, 90), "ms")
        out["nrt.visible_ms"] = (statistics.median(self.visible_ms), "ms")
        for lane in ("cold", "warm", "nrt"):
            d = lanes.get(lane, {})
            n = max(len(d.get("engine.search", [])), 1)  # queries traced

            def per_op(name, _d=d, _n=n):
                return sum(_d.get(name, [])) / _n

            search = per_op("engine.search")
            parts = {
                "parser.parse_ms": per_op("parser.parse#self"),
                "engine.rewrite_ms": per_op("engine.rewrite#self"),
                "engine.fetch_ms": per_op("engine.fetch#self")
                + per_op("engine.scan#self"),
                "codec.decode_ms": per_op("codec.decode#self"),
                "engine.score_collect_ms": per_op("engine.search#self"),
            }
            closure = sum(parts.values()) - search
            if search and abs(closure) > 1e-6 * max(search, 1.0) + 1e-3:
                self.failures.append(f"{lane}: self times sum "
                                     f"{sum(parts.values()):.4f} != search "
                                     f"{search:.4f} ms")
            fetched = sum(d.get("engine.scan#count", []))
            decoded = sum(d.get("codec.decode#count", []))
            if lane == "nrt":
                out["nrt.fetch_ms"] = (parts["engine.fetch_ms"], "ms")
                out["nrt.decode_ms"] = (parts["codec.decode_ms"], "ms")
                continue
            decode_ms = parts.pop("codec.decode_ms")
            for name, v in parts.items():
                out[f"{name}.{lane}"] = (v, "ms")
            out[f"engine.fetch_rows.{lane}"] = (fetched / n, "count")
            if lane == "cold":  # warm passes decode nothing new
                out["codec.decode_ms"] = (decode_ms, "ms")
                out["codec.decoded_blocks"] = (decoded / n, "count")
                out["codec.decoded_share"] = (decoded / fetched, "ratio")
        return out


UNITS = {
    "host.capacity": "1/s", "builder.terms": "count",
    "builder.postings": "count", "builder.stage_cover": "ratio",
    "spark.merge_ms_per_term": "ms",
    "spark.chunk_shuffle_bytes_per_posting": "bytes",
    "spark.merge_task_skew": "ratio", "spark.merge_tasks": "count",
    "spark.slot_occupancy": "ratio",
    "spark.spill_bytes": "bytes", "spark.jobs": "count",
    "spark.tasks": "count", "spark.failed_tasks": "count",
    "codec.postings_bytes_per_posting": "bytes",
    "store.docmap_bytes_per_text_byte": "ratio",
    "distributed.jobs": "count", "distributed.tasks": "count",
    "distributed.shuffle_bytes": "bytes", "nrt.spark_jobs": "count",
    "nrt.append_growth": "ratio", "nrt.segments": "count",
    "trace.overhead_share": "ratio", "stream.distinct_terms": "count",
    "stream.cacheable_terms": "count", "engine.dense_tables_max": "count",
}


def same_hits(got, want) -> bool:
    """Rank identity: same docIDs in the same order, float32-equal scores."""
    return len(got) == len(want) and all(
        int(a[0]) == int(b[0]) and np.float32(a[1]) == np.float32(b[1])
        for a, b in zip(got, want))


def engine_present(root: str) -> bool:
    return os.path.isfile(os.path.join(root, "lucene_solr_spark",
                                       "__init__.py"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not engine_present(root):
        log("lucene_solr_spark/ not found in the working directory; run "
            "from the repository root")
        return 2
    sys.path.insert(0, root)

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), root)
    try:
        t0 = time.perf_counter()
        run.setup()
        t1 = time.perf_counter()
        run.timed()
        t2 = time.perf_counter()
        run.replay_check()
        run.check()
        t3 = time.perf_counter()
        metrics = run.per_layer() if args.trace else run.end_to_end()
        unscaled = None if args.trace else run.end_to_end(scaled=False)
    finally:
        if hasattr(run, "spark"):
            stop_spark(run.spark)
        if run.tracer is not None:
            run.tracer.dump(os.path.join(run.work, "spans.json"))
        for sub in ("index", "corpus", "spark-local", "tmp"):
            shutil.rmtree(os.path.join(run.work, sub), ignore_errors=True)
    import pyarrow
    import pyspark

    from lucene_solr_spark.query.engine import LocalSearcher

    env = {"workload": args.workload, "seed": args.seed,
           "trace": args.trace, "pyspark": pyspark.__version__,
           "pyarrow": pyarrow.__version__, "numpy": np.__version__,
           "master": f"local[{CORES}]", "jvm_mem": JVM_MEM,
           "dense_budget_mb": LocalSearcher._DENSE_BUDGET_MB_DEFAULT,
           "probe_ref_s": PROBE_REF_S,
           "probe_median_s": statistics.median(run.probes),
           "samples": {"appends": len(run.ops["append"]),
                       "rebuilds": len(run.ops["rebuild"]),
                       "dist": len(run.ops["dist"]),
                       "cold": len(run.cold_ms),
                       "warm_passes": len(run.passes[False]),
                       "warm_queries": sum(len(ms) for ms, _ in
                                           run.passes[False]),
                       "probes": len(run.probes)}}
    if unscaled is not None:
        env["unscaled"] = {k: v for k, (v, _) in unscaled.items()}
    log(" ".join(f"{k}={v}" for k, v in env.items()))
    log(f"phases: setup={t1 - t0:.1f}s timed={t2 - t1:.1f}s "
        f"checks={t3 - t2:.1f}s stop={time.perf_counter() - t3:.1f}s")
    for msg in run.failures[:20]:
        log(f"FAILED: {msg}")
    failed = len(run.failures)
    out = {
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    with open(os.path.join(run.work, "result.json"), "w") as f:
        json.dump(dict(out, env=env, failures=run.failures), f, indent=1)
    print(json.dumps(out))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
