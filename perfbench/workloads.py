"""The workloads: ``query_unique`` and ``nrt_mixed``.

Each runs one closed-loop client thread against one local Spark session
at ``local[nproc]``. Timed windows contain only calls into the engine;
data generation, oracle construction and output checks run outside them.
See README.md in this directory for what each workload and metric means.
"""

from __future__ import annotations

import inspect
import json
import os
import random
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.harness import (
    Session, Tracer, cpu_ticks, peak_rss_mb, ratio, reset_dir, steal_frac,
    sum_jobs, tree_files,
)
from solr_spark.functions.hashing import xxhash64_py
from solr_spark.index.codec import delta_varint_decode, varint_decode
from solr_spark.index.build import (
    IndexConfig, InvertedIndex, analyze_docs, build_index, build_postings,
)
from solr_spark.oracle import BruteForceIndex
from solr_spark.plans import execute_query
from solr_spark.query.engine import SearchEngine, TermStats
from solr_spark.query.phrase import phrase_topk
from solr_spark.streaming.incremental import IncrementalIndexer

K = 10
#: docs per corpus, sized so that a run takes about a minute on a 4-core host
N_QUERY = 800
N_NRT_BASE = 300
NRT_BATCH = 40
NRT_UPDATE_FRAC = 0.2
#: a run's work follows ``--seconds`` through these fixed rates, never
#: through measured speed, so a parent and a change do the same work: one
#: rotation of the query classes per ROTATION_S seconds, and one timed NRT
#: cycle per CYCLE_S seconds, at least two of each (in a traced run one
#: cycle runs traced and one untraced)
ROTATION_S = 6.0
CYCLE_S = 6.0
#: each timed cycle serves one text 4 times, cycle t a text of shape
#: NRT_SHAPES[t]: 3 of every 4 searches repeat it, so the median search is
#: a cache hit and p90 lies among the misses
NRT_REPEATS = (4,)
#: or_long needs Σdf above the engine's block-max pruning threshold,
#: which takes an index of over 10k docs; the traced run builds it
N_OR_LONG = 12000
#: steal above this share of CPU time flags the run's window as throttled
STEAL_FLAG = 0.005

BUILD_LAYERS = ("analyze_segments", "term_dict", "blocks")
#: per-layer metric prefixes each workload measures; a traced run that
#: misses one of these fails, and the metrics of layers a workload never
#: runs read 0
WORKLOAD_LAYERS = {
    "query_unique": ("session.", "build.", "analysis.", "codec.", "query.", "host.", "trace."),
    "nrt_mixed": ("session.", "codec.", "cache.", "nrt.", "host.", "trace."),
}
SORT_COLS = ["repo", "path", "commit"]


def index_config(n_docs: int) -> IndexConfig:
    """Build settings scaled to a small corpus, as the test suite scales
    them: hot terms are salted 4 ways into 8 term buckets."""
    return IndexConfig(hot_df_threshold=n_docs // 4, n_salts=4, n_term_buckets=8)


def parquet_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names if n.endswith(".parquet"))
    return total


def rows_of(df_rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(np.float32(r["score"]))) for r in df_rows]


def oracle_rows(oracle: BruteForceIndex, text: str, mode: str, k: int = K) -> list[tuple[int, float]]:
    res = oracle.topk(text, k=k, mode=mode)
    return [(int(d), float(s)) for d, s in zip(res["doc_id"], res["score"])]


def with_doc_ids(index_dir: str, rows: pd.DataFrame) -> pd.DataFrame:
    """Input rows joined to the doc ids the index assigned them."""
    ids = pd.read_parquet(os.path.join(index_dir, "analyzed"), columns=["doc_id", *SORT_COLS])
    out = rows.merge(ids, on=SORT_COLS, how="inner", validate="one_to_one")
    if len(out) != len(rows) or len(ids) != len(rows):
        raise RuntimeError(f"{len(rows)} input rows, {len(ids)} indexed, {len(out)} matched")
    return out


def median(values) -> float:
    return float(np.median(values))


def query_words(text: str) -> str:
    """A lucene query's words without its operators."""
    for op in ("(", ")", " OR ", " AND ", "-"):
        text = text.replace(op, " ")
    return text


def lucene_rows(oracle: BruteForceIndex, terms: list[str]) -> list[tuple[int, float]]:
    """The oracle's answer to ``(a OR b) AND c -d``: the docs that hold a
    or b, and c, and not d, scored and ranked as the OR of a, b and c."""
    a, b, c, d = terms

    def docs(t: str) -> set[int]:
        rows = oracle.postings[t][0] if t in oracle.postings else []
        return set(oracle.doc_ids[rows].tolist())

    keep = ((docs(a) | docs(b)) & docs(c)) - docs(d)
    ranked = oracle_rows(oracle, f"{a} {b} {c}", "OR", k=oracle.n_docs)
    return [r for r in ranked if r[0] in keep][:K]


def contains(tokens: list[str], phrase: list[str]) -> bool:
    n = len(phrase)
    return any(tokens[i:i + n] == phrase for i in range(len(tokens) - n + 1))


def theta_site() -> tuple[str, range]:
    """(file, lines) of ``SearchEngine._or_theta``: a job whose call site
    falls there is the block-max θ-seed job."""
    lines, first = inspect.getsourcelines(SearchEngine._or_theta)
    return os.path.basename(inspect.getsourcefile(SearchEngine)), range(first, first + len(lines))


def is_theta_job(job: dict, site: tuple[str, range]) -> bool:
    fname, lines = site
    path, _, line = job["name"].rsplit(" ", 1)[-1].rpartition(":")
    return os.path.basename(path) == fname and line.isdigit() and int(line) in lines


class Run:
    """One benchmark run: session, tracer, counters and results."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float, trace: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.rng = random.Random(seed)
        self.work = os.path.join(root, ".bench_work", f"{workload}-{os.getpid()}")
        self.out_dir = os.path.join(root, ".bench_out")
        self.session = Session(root, self.work)
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.detail: dict = {}

    # -- bookkeeping ---------------------------------------------------------
    def op(self, ok: bool, what: str) -> None:
        """Count one attempted operation; a wrong one is printed and counted."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"MISMATCH {self.workload} seed={self.seed}: {what}", flush=True)

    def tracer_for(self, i: int) -> Tracer:
        """Traced runs alternate traced and untraced iterations, so the
        difference between the two is the tracing overhead."""
        return self.tracer if self.trace and i % 2 == 0 else self.quiet

    def execute(self) -> None:
        reset_dir(self.work)
        t0 = cpu_ticks()
        try:
            spark = self.session.start()
            self.tracer = Tracer(spark, True)
            self.quiet = Tracer(spark, False)
            self.layer["session.start_s"] = self.session.start_s
            getattr(self, self.workload)(spark)
            self.metrics["ok_frac"] = 1.0 - ratio(self.failed, self.attempted)
            self.metrics["peak_rss_mb"] = peak_rss_mb(self.session.jvm_pid)
            self.detail["host"] = self.session.host_record()
        finally:
            steal = steal_frac(t0, cpu_ticks())
            self.layer["host.steal_frac"] = steal
            self.detail["host_steal_frac"] = steal
            self.detail["throttled_window"] = steal > STEAL_FLAG
            self.session.close()
            reset_dir(self.work)
            os.rmdir(self.work)
        if self.trace:
            self.tracer.write(
                os.path.join(self.out_dir, f"spans-{self.workload}-seed{self.seed}.json"),
                {"layer": self.layer, "detail": self.detail},
            )

    # -- shared measurements ---------------------------------------------------
    def index_size(self, idx: InvertedIndex, in_bytes: int) -> None:
        ib = parquet_bytes(idx.dir)
        self.metrics["index_bytes_per_input_byte"] = ratio(ib, in_bytes)
        self.detail["index_bytes_per_input_byte"] = {"index_bytes": ib, "input_bytes": in_bytes}

    def codec_layer(self, idx: InvertedIndex) -> None:
        sum_df = int(idx.term_dict.agg(F.sum("df")).collect()[0][0])
        blocks_bytes = parquet_bytes(os.path.join(idx.dir, "blocks"))
        self.layer["codec.bytes_per_posting"] = ratio(blocks_bytes, sum_df)
        self.detail["codec.bytes_per_posting"] = {"blocks_bytes": blocks_bytes, "sum_df": sum_df}

    def query_metrics(self, lats: list[float]) -> None:
        self.metrics["query_p50_s"] = median(lats)
        self.metrics["query_p90_s"] = float(np.percentile(lats, 90))
        self.detail["query_samples"] = len(lats)
        self.detail["query_samples_beyond_p90"] = sum(v > self.metrics["query_p90_s"] for v in lats)

    def overhead(self, samples: list[tuple[bool, float]]) -> None:
        on = [v for t, v in samples if t]
        off = [v for t, v in samples if not t]
        self.layer["trace.overhead_frac"] = median(on) / median(off) - 1.0
        self.detail["trace.overhead_frac"] = {"traced": len(on), "untraced": len(off)}

    # -- build layers ----------------------------------------------------------
    def build_layers(self, idx: InvertedIndex, jobs: list[dict], start: float) -> None:
        """Per-layer numbers of one build: wall time from the manifests,
        the rest from the jobs submitted in each stage's window (a stage
        ends when its manifest is written)."""
        man = idx.manifests()
        ends = {
            layer: os.path.getmtime(os.path.join(idx.dir, f"_MANIFEST_{stage}.json"))
            for layer, stage in zip(BUILD_LAYERS, ("segments", "term_dict", "blocks"))
        }
        walls = {
            "analyze_segments": man["segments"]["wall_sec"],
            "term_dict": man["term_dict"]["wall_sec"],
            "blocks": man["blocks"]["wall_sec"],
        }
        files = {
            "analyze_segments": man["analyzed"]["n_files"] + man["segments"]["n_files"],
            "term_dict": man["term_dict"]["n_files"],
            "blocks": man["blocks"]["n_files"],
        }
        lo = start
        for layer in BUILD_LAYERS:
            js = [j for j in jobs if lo <= j["submitted"] <= ends[layer]]
            p = f"build.{layer}."
            self.layer[p + "wall_s"] = walls[layer]
            self.layer[p + "jobs"] = len(js)
            for k in ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                      "shuffle_write_bytes", "spill_bytes", "output_bytes"):
                self.layer[p + k] = sum_jobs(js, k)
            self.layer[p + "output_files"] = files[layer]
            lo = ends[layer]

    def standalone_analysis(self, corpus, cfg: IndexConfig) -> None:
        """The public analyze and postings functions on the same corpus,
        each written with the ``noop`` format."""
        analyzed = analyze_docs(corpus, cfg, "content", None, SORT_COLS)
        t0 = time.perf_counter()
        analyzed.drop("tokens").write.format("noop").mode("overwrite").save()
        self.layer["analysis.analyze_docs_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        build_postings(analyzed, cfg).write.format("noop").mode("overwrite").save()
        self.layer["build.build_postings_s"] = time.perf_counter() - t0

    # -- query layers ----------------------------------------------------------
    def run_query(self, engine: SearchEngine, q: dict, tr: Tracer, rid: str) -> dict:
        """One query: ``plan`` until the lazy frame returns, ``exec`` the collect."""
        with tr.span("query", rid, group=True) as sp:
            with tr.span("query.plan") as plan:
                if q["cls"] == "lucene":
                    frame = execute_query(engine, q["text"], k=K)
                elif q["cls"] == "phrase":
                    frame = phrase_topk(engine, q["text"], k=K)
                else:
                    frame = engine.topk(q["text"], k=K, mode=q["mode"])
            with tr.span("query.exec"):
                rows = frame.collect()
        return {**q, "rows": rows_of(rows), "lat": sp["dur"], "plan": plan["dur"],
                "exec": sp["dur"] - plan["dur"], "group": sp["group"], "traced": tr.enabled}

    def probe_query(self, engine: SearchEngine, r: dict) -> None:
        """Scan and decode+score probes over one traced query's terms."""
        idx = engine.index
        terms = engine.analyze_query(query_words(r["text"]))
        if not terms:
            return
        buckets = sorted({xxhash64_py(t) % idx.config.n_term_buckets for t in terms})
        t0 = time.perf_counter()
        idx.blocks.where(F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)).count()
        r["scan_s"] = time.perf_counter() - t0
        rows = idx.term_dict.where(F.col("term").isin(terms)).select("term", "df", "idf").collect()
        stats = [TermStats(x["term"], int(x["df"]), float(x["idf"]), float(terms.count(x["term"])))
                 for x in sorted(rows, key=lambda x: x["term"])]
        t0 = time.perf_counter()
        engine.score_all(stats).count()
        r["decode_score_s"] = time.perf_counter() - t0

    def query_layers(self, traced: list[dict], site) -> None:
        """Per-query status-store numbers of the traced queries."""
        jobs_n, tasks, in_bytes, rows_read, hits = [], [], [], 0.0, 0
        for r in traced:
            js = self.tracer.jobs(r["group"])
            r["theta_jobs"] = sum(is_theta_job(j, site) for j in js)
            jobs_n.append(len(js))
            tasks.append(sum_jobs(js, "tasks"))
            in_bytes.append(sum_jobs(js, "input_bytes"))
            rows_read += sum_jobs(js, "input_records")
            hits += len(r["rows"])
        L = self.layer
        L["query.plan_s"] = median([r["plan"] for r in traced])
        L["query.exec_s"] = median([r["exec"] for r in traced])
        L["query.jobs_per_query"] = median(jobs_n)
        L["query.tasks_per_query"] = median(tasks)
        L["query.input_bytes_per_query"] = median(in_bytes)
        L["query.rows_scanned_per_result"] = ratio(rows_read, hits)
        self.detail["query.rows_scanned_per_result"] = {"rows_read": rows_read, "hits": hits}
        probed = [r for r in traced if "scan_s" in r]
        L["query.scan_s"] = median([r["scan_s"] for r in probed])
        L["query.decode_score_s"] = median([r["decode_score_s"] for r in probed])

    # =======================================================================
    # query_unique
    # =======================================================================
    def query_unique(self, spark) -> None:
        """A full index build, then a seeded stream of distinct queries
        against one long-lived engine: the result cache never hits."""
        table = os.path.join(self.work, "corpus")
        rows = inputs.write_corpus(spark, inputs.doc_range(self.seed, N_QUERY), table)
        corpus = spark.read.parquet(table)
        cfg = index_config(N_QUERY)
        out = os.path.join(self.work, "index")

        owned = spark.range(64).persist()
        owned.count()
        with self.tracer.span("setup") as setup:
            with self.tracer.span("build", "setup", group=True) as b:
                idx = build_index(spark, corpus, out, cfg, resume=False)
            engine = SearchEngine(idx)
            with self.tracer.span("warmup", "setup"):
                warm = SearchEngine(idx)
                warm.topk("import", k=K).collect()
                served = time.time()
        self.metrics["setup_s"] = self.session.start_s + setup["dur"]
        self.metrics["build_docs_per_s"] = N_QUERY / b["dur"]
        self.metrics["refresh_p50_s"] = served - b["start"]
        self.index_size(idx, inputs.input_bytes(rows))
        evicted = not (owned.storageLevel.useMemory or owned.storageLevel.useDisk)
        owned.unpersist()
        self.layer["build.caller_cache_evictions"] = int(evicted)

        docs = with_doc_ids(out, rows)
        oracle = BruteForceIndex(docs)
        self.check_build(idx, oracle)
        text_by_id = dict(zip(docs["doc_id"], docs["content"]))
        analyze = cfg.chain().tokenize_py
        terms = idx.term_dict.select("term", "df").toPandas()
        pools = inputs.TermPools(terms, N_QUERY, self.rng, analyze)
        n_rot = max(2, int(self.seconds // ROTATION_S))
        queries = inputs.distinct_queries(pools, rows, self.rng, n_rot * len(inputs.CLASSES))

        # whole rotations, so every run serves the same class mix; a traced
        # run traces every other query, and the other half in the next
        # rotation, so every class runs traced and untraced
        results = []
        for i, q in enumerate(queries):
            tr = self.tracer_for(i + i // len(inputs.CLASSES))
            results.append(self.run_query(engine, q, tr, f"q{i}"))
        self.query_metrics([r["lat"] for r in results])
        self.check_queries(results, oracle, text_by_id, analyze)

        df_of = dict(zip(terms["term"], terms["df"]))
        self.detail["class_sum_df"] = {
            c: median([sum(df_of.get(t, 0) for t in set(analyze(query_words(r["text"]))))
                       for r in results if r["cls"] == c])
            for c in {r["cls"] for r in results}
        }
        if self.trace:
            self.build_layers(idx, self.tracer.jobs(b["group"]), b["start"])
            self.codec_layer(idx)
            self.standalone_analysis(corpus, cfg)
            traced = [r for r in results if r["traced"]]
            for r in traced:
                self.probe_query(engine, r)
            site = theta_site()
            self.query_layers(traced, site)
            for cls in inputs.CLASSES:
                self.layer[f"query.class.{cls}.p50_s"] = median(
                    [r["lat"] for r in results if r["cls"] == cls])
            self.detail["theta_jobs_by_class"] = {
                c: sum(r["theta_jobs"] for r in traced if r["cls"] == c) for c in inputs.CLASSES}
            self.overhead([(r["traced"], r["lat"]) for r in results])
            self.or_long(spark, site)

    def check_build(self, idx: InvertedIndex, oracle: BruteForceIndex) -> None:
        """n_docs, and the blocks' content: every block decodes, with the
        public codec functions, to exactly the oracle's postings."""
        self.op(idx.n_docs == N_QUERY, f"n_docs {idx.n_docs} != {N_QUERY}")
        blocks = idx.blocks.select("term", "n_docs", "doc_ids_enc", "tfs_enc", "dls_enc").toPandas()
        got = set()
        for term, n, ids, tfs, dls in blocks.itertuples(index=False):
            ids, tfs, dls = (delta_varint_decode(bytes(ids)), varint_decode(bytes(tfs)),
                             varint_decode(bytes(dls)))
            if not len(ids) == len(tfs) == len(dls) == n:
                self.op(False, f"block of {term!r}: {n} docs, decodes to {len(ids)}/{len(tfs)}/{len(dls)}")
                return
            got.update(zip([term] * n, ids.tolist(), tfs.tolist(), dls.tolist()))
        want = {
            (t, int(oracle.doc_ids[r]), int(tf), int(oracle.doc_len[r]))
            for t, (rows, tfs) in oracle.postings.items() for r, tf in zip(rows, tfs)
        }
        self.op(got == want, f"blocks hold {len(got)} postings, oracle {len(want)}: "
                f"{sorted(got - want)[:3]} extra, {sorted(want - got)[:3]} missing")

    def check_queries(self, results, oracle, text_by_id, analyze) -> None:
        for r in results:
            if r["cls"] == "phrase":
                bad = [d for d, _ in r["rows"] if not contains(analyze(text_by_id[d]), r["tokens"])]
                self.op(not bad, f"phrase {r['text']!r}: docs {bad} lack it")
            elif r["cls"] == "lucene":
                want = lucene_rows(oracle, r["terms"])
                self.op(r["rows"] == want, f"lucene {r['text']!r}: {r['rows']} != oracle {want}")
            else:
                want = oracle_rows(oracle, r["text"], r["mode"])
                self.op(r["rows"] == want, f"{r['cls']} {r['text']!r}: {r['rows']} != oracle {want}")

    def or_long(self, spark, site) -> None:
        """The θ-seed class: a long OR of hot terms over a larger index."""
        table = os.path.join(self.work, "corpus_long")
        rows = inputs.write_corpus(spark, inputs.doc_range(self.seed, N_OR_LONG, N_QUERY), table)
        out = os.path.join(self.work, "index_long")
        idx = build_index(spark, spark.read.parquet(table), out, index_config(N_OR_LONG), resume=False)
        terms = idx.term_dict.select("term", "df").toPandas()
        text, sum_df = inputs.or_long_query(terms, SearchEngine._PRUNE_MIN_POSTINGS)
        want = oracle_rows(BruteForceIndex(with_doc_ids(out, rows)), text, "OR")
        q = {"cls": "or_long", "text": text, "mode": "OR"}
        r = self.run_query(SearchEngine(idx), q, self.tracer, "or_long")
        self.op(r["rows"] == want, f"or_long: {r['rows']} != oracle {want}")
        self.layer["query.class.or_long.p50_s"] = r["lat"]
        self.detail["theta_jobs_by_class"]["or_long"] = sum(
            is_theta_job(j, site) for j in self.tracer.jobs(r["group"]))
        self.detail["class_sum_df"]["or_long"] = sum_df
        self.detail["or_long"] = {"docs": N_OR_LONG, "terms": len(text.split()), "queries": 1}

    # =======================================================================
    # nrt_mixed
    # =======================================================================
    def nrt_mixed(self, spark) -> None:
        """Append, delete superseded commits, commit, then serve a
        repeating query stream from the fresh engine; all in one thread.
        Reads never overlap a commit, which deletes bucket directories
        that open handles still list."""
        base = os.path.join(self.work, "base")
        live = inputs.write_corpus(spark, inputs.doc_range(self.seed, N_NRT_BASE), base)
        cfg = index_config(N_NRT_BASE)
        out = os.path.join(self.work, "index")

        with self.tracer.span("setup") as setup:
            indexer = IncrementalIndexer(spark, out, cfg)
            with self.tracer.span("base", "setup") as b:
                indexer.append_batch(spark.read.parquet(base))
                indexer.commit()
            # one untimed cycle: the first cycles of a process run slower
            # while the append, delete and commit paths warm up
            with self.tracer.span("warmup", "setup"):
                idx, engine, live, _ = self.nrt_refresh(spark, indexer, out, live, 0, self.quiet)
                warm = [("import", "OR", rows_of(engine.search("import", k=K).collect()))]
        self.metrics["setup_s"] = self.session.start_s + setup["dur"]
        self.metrics["build_docs_per_s"] = N_NRT_BASE / b["dur"]
        self.check_cycle(idx, out, live, warm)

        terms = idx.term_dict.select("term", "df").toPandas()
        pools = inputs.TermPools(terms, N_NRT_BASE, self.rng, cfg.chain().tokenize_py)
        n_cycles = max(2, int(self.seconds // CYCLE_S))
        cycles, searches, cache = [], [], {"hit": [], "miss": []}
        for t in range(n_cycles):
            c, tr = t + 1, self.tracer_for(t)
            idx, engine, live, cyc = self.nrt_refresh(spark, indexer, out, live, c, tr)
            shapes = [inputs.NRT_SHAPES[(len(NRT_REPEATS) * t + j) % len(inputs.NRT_SHAPES)]
                      for j in range(len(NRT_REPEATS))]
            texts = [inputs.nrt_text(pools, shape) for shape in shapes]
            stream = inputs.repeated_stream(texts, NRT_REPEATS, self.rng)
            cyc.update(draws=len(stream), distinct=len(set(stream)))

            served = []
            for text, mode in stream:
                with tr.span("search", f"cycle{c}") as sp:
                    with tr.span("search.lookup", group=True) as look:
                        frame = engine.search(text, k=K, mode=mode)
                    served.append((text, mode, rows_of(frame.collect())))
                searches.append((tr.enabled, sp["dur"]))
                if tr.enabled:
                    cache["miss" if self.tracer.jobs(look["group"]) else "hit"].append(sp["dur"])
            self.check_cycle(idx, out, live, served)
            cycles.append(cyc)

        self.metrics["refresh_p50_s"] = median([x["refresh"] for x in cycles])
        self.query_metrics([dur for _, dur in searches])
        self.index_size(idx, inputs.input_bytes(live))
        draws = sum(x["draws"] for x in cycles)
        self.detail.update(cycles=len(cycles), refresh_s=[x["refresh"] for x in cycles],
                           stream_draws=draws,
                           stream_repeat_share=1 - sum(x["distinct"] for x in cycles) / draws)
        if self.trace:
            tc = [x for x in cycles if x["traced"]]
            for k in ("append", "delete", "commit"):
                self.layer[f"nrt.{k}_s"] = median([x[k] for x in tc])
            for k in ("commit_jobs", "buckets_rewritten", "bytes_rewritten_per_appended_byte"):
                self.layer[f"nrt.{k}"] = median([x[k] for x in tc])
            lookups = len(cache["hit"]) + len(cache["miss"])
            self.layer["cache.hit_ratio"] = ratio(len(cache["hit"]), lookups)
            self.detail["cache.hit_ratio"] = {"hits": len(cache["hit"]), "lookups": lookups}
            for kind in ("hit", "miss"):
                self.layer[f"cache.{kind}_p50_s"] = median(cache[kind])
            self.codec_layer(idx)
            self.overhead(searches)

    def nrt_refresh(self, spark, indexer: IncrementalIndexer, out: str, live: pd.DataFrame,
                    c: int, tr: Tracer):
        """Cycle ``c``'s writes: append a batch, a fifth of which supersedes
        live commits, delete the superseded, commit, open the new engine.
        Returns (index, engine, live rows, cycle record)."""
        docs = inputs.doc_range(self.seed, NRT_BATCH, N_NRT_BASE + c * NRT_BATCH)
        rows, superseded = inputs.nrt_batch(live, docs, NRT_UPDATE_FRAC, c + 1, self.rng)
        bpath = os.path.join(self.work, f"batch{c}")
        rows.to_parquet(bpath, index=False)
        batch = spark.read.parquet(bpath)
        before = tree_files(out) if tr.enabled else None

        with tr.span("refresh", f"cycle{c}") as ref:
            with tr.span("nrt.append", group=True) as a:
                indexer.append_batch(batch)
            with tr.span("nrt.delete", group=True) as d:
                indexer.delete_by_query(F.col("commit").isin(superseded))
            with tr.span("nrt.commit", group=True) as cm:
                idx = indexer.commit()
            engine = SearchEngine(idx)
        cyc = {"traced": tr.enabled, "refresh": ref["dur"], "append": a["dur"],
               "delete": d["dur"], "commit": cm["dur"], "in_bytes": inputs.input_bytes(rows)}
        if tr.enabled:
            self.nrt_cycle_layers(cyc, out, before, cm["group"])
        live = pd.concat([live[~live["commit"].isin(superseded)], rows], ignore_index=True)
        return idx, engine, live, cyc

    def nrt_cycle_layers(self, cyc: dict, out: str, before: dict, commit_group: str) -> None:
        """Commit jobs, and the stage files one cycle created or replaced."""
        after = tree_files(out)
        changed = {p: v for p, v in after.items() if before.get(p) != v and "/" in p
                   and not os.path.basename(p).startswith(("_", "."))}
        cyc["commit_jobs"] = len(self.tracer.jobs(commit_group))
        cyc["buckets_rewritten"] = len({p.split("/")[1] for p in changed
                                        if p.startswith("blocks/term_bucket=")})
        cyc["bytes_rewritten_per_appended_byte"] = ratio(
            sum(v[0] for v in changed.values()), cyc["in_bytes"])

    def check_cycle(self, idx: InvertedIndex, out: str, live: pd.DataFrame, served: list) -> None:
        """After a cycle: n_docs is the live doc count, and every search
        the cycle served, hit or miss, equals the oracle over the
        surviving corpus."""
        self.op(idx.n_docs == len(live), f"n_docs {idx.n_docs} != live docs {len(live)}")
        oracle = BruteForceIndex(with_doc_ids(out, live))
        want = {(text, mode): oracle_rows(oracle, text, mode) for text, mode, _ in served}
        for text, mode, got in served:
            self.op(got == want[text, mode],
                    f"{mode} {text!r}: {got} != oracle {want[text, mode]}")
