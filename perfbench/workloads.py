"""The benchmark's workloads: one client, closed loop, results checked.

Each workload runs in its own process and calls only the engine's public
entry points — ``IndexBuilder`` / ``IndexReader`` (plans.build) and
``stream_pages_to_postings`` / ``compact_streamed_index`` /
``minor_compact`` (streaming.ingest). ``IndexReader`` is an in-process
library whose caller blocks on ``collect()``, so the load is one client
that sends its next call when the previous one returned.

* ``build-webtext`` — ``build(force=True)`` + ``build_positions`` of a
  Zipf web-text corpus, then a few checked queries on the fresh index.
* ``serve-hot`` — a seeded mix of ``search`` (topk and intersect),
  ``search_local``, ``phrase`` and batched ``search`` on a
  ``load_hot()``-pinned reader; no build or write code runs.
* ``ingest-serve`` — waves of pages with interleaved doc ids are streamed,
  compacted incrementally and searched on an unpinned reader until each
  wave's needle term is found; ``minor_compact`` after the last wave.

Every result is compared with an exhaustive oracle computed once in
set-up; a mismatch or an exception is a failed op.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass

import numpy as np

import corpus as gen
from tracing import Span, Tracer

# -- sizes (the corpora are gen.SPECS) ---------------------------------------
INGEST_WAVE_DOCS = 100
WARMUP_DOCS = 200
QUERIES_PER_CLASS = 16
INTERSECT_QUERIES = 8
PHRASES = 8
BATCH_SIZE = 64
# serve-hot's fixed op schedule, run in whole cycles, at least SERVE_CYCLES
# of them; queries are drawn from the pool by a seeded Zipf popularity, so
# the term-stats cache is mostly warm with some cold lookups
SERVE_SCHEDULE = (
    "search", "local", "search", "phrase", "search", "local",
    "intersect", "search", "batch",
)
SERVE_CYCLES = 2
SCORE_TOL = 1e-6  # both sides round to 6 decimals
CLASSES = ("head", "mid", "tail", "long", "intersect")
TOPK_CLASSES = CLASSES[:4]


@dataclass(frozen=True)
class Query:
    qid: int
    text: str
    cls: str  # one of CLASSES


# -- query and phrase pools -------------------------------------------------


def make_queries(parts: list[gen.Corpus], seed: int) -> list[Query]:
    """Seeded query pool by term class: head (1-2 of the most frequent
    terms), mid (1-3), tail (1-2 of the rarest tenth), long (5-8 mixed)
    and intersect (2-3 terms co-occurring in one doc)."""
    from colbert_jl_spark.config import STOPWORDS

    rng = np.random.default_rng([seed, 17])
    df = gen.doc_freq(parts)
    by_df = sorted(df, key=lambda t: (-df[t], t))
    n = len(by_df)
    pools = {
        "head": by_df[: max(20, n // 100)],
        "mid": by_df[n // 20 : n // 4],
        "tail": by_df[-max(20, n // 10) :],
    }

    def pick(cls: str, k: int) -> list[str]:
        return [str(t) for t in rng.choice(pools[cls], size=k, replace=False)]

    out: list[Query] = []
    for cls, lo, hi in (("head", 1, 2), ("mid", 1, 3), ("tail", 1, 2)):
        for _ in range(QUERIES_PER_CLASS):
            out.append(Query(len(out), " ".join(pick(cls, int(rng.integers(lo, hi + 1)))), cls))
    for _ in range(QUERIES_PER_CLASS):
        terms = pick("head", 2) + pick("mid", 2) + pick("tail", int(rng.integers(1, 5)))
        out.append(Query(len(out), " ".join(terms), "long"))
    stop = set(STOPWORDS)
    texts = [t for p in parts for t in p.texts]
    while sum(q.cls == "intersect" for q in out) < INTERSECT_QUERIES:
        toks = sorted({t for t in texts[int(rng.integers(len(texts)))].split(" ")} - stop)
        if len(toks) >= 3:
            k = int(rng.integers(2, 4))
            out.append(Query(len(out), " ".join(rng.choice(toks, size=k, replace=False)), "intersect"))
    return out


def make_phrases(parts: list[gen.Corpus], seed: int) -> list[tuple[int, str]]:
    """Seeded 2-3 token phrases cut from the docs (stopwords included)."""
    rng = np.random.default_rng([seed, 23])
    texts = [t for p in parts for t in p.texts]
    out = []
    while len(out) < PHRASES:
        toks = texts[int(rng.integers(len(texts)))].split(" ")
        k = int(rng.integers(2, 4))
        if len(toks) > k:
            i = int(rng.integers(len(toks) - k))
            out.append((len(out), " ".join(toks[i : i + k])))
    return out


def zipf_picker(n: int, seed: int, s: float = 1.0):
    """Seeded draws of pool indices with Zipf(s) popularity."""
    rng = np.random.default_rng([seed, 31])
    order = rng.permutation(n)
    w = np.arange(1, n + 1, dtype=np.float64) ** (-s)
    p = w / w.sum()
    return lambda: int(order[rng.choice(n, p=p)])


class QueryMix:
    """Seeded query choice. Each call kind rotates over the topk classes
    (head, mid, tail, long), so every run has the same class mix whatever
    the seed; within a class, queries repeat with Zipf popularity."""

    def __init__(self, queries: list[Query], seed: int):
        self._by_cls = {c: [q for q in queries if q.cls == c] for c in CLASSES}
        self._pick = {c: zipf_picker(len(self._by_cls[c]), seed + i) for i, c in enumerate(CLASSES)}
        self._turn: dict[str, int] = defaultdict(int)

    def pick(self, cls: str) -> Query:
        return self._by_cls[cls][self._pick[cls]()]

    def next(self, kind: str) -> Query:
        """The next topk query for call kind ``kind``."""
        cls = TOPK_CLASSES[self._turn[kind] % len(TOPK_CLASSES)]
        self._turn[kind] += 1
        return self.pick(cls)


# -- oracles ----------------------------------------------------------------


def docs_frame(spark, parts: list[gen.Corpus]):
    from colbert_jl_spark.functions.smalldf import local_df

    rows = [r for p in parts for r in p.rows()]
    return local_df(spark, rows, "doc_id long, text string, lang string")


def topk_oracle(spark, docs, queries: list[Query]) -> dict[int, list[tuple]]:
    """Exhaustive BM25 top-k per qid (conjunctive for intersect queries)."""
    from colbert_jl_spark.functions.smalldf import local_df
    from colbert_jl_spark.operators.bm25 import bm25_topk, bm25_topk_conjunctive

    out: dict[int, list[tuple]] = {q.qid: [] for q in queries}
    for fn, qs in (
        (bm25_topk, [q for q in queries if q.cls != "intersect"]),
        (bm25_topk_conjunctive, [q for q in queries if q.cls == "intersect"]),
    ):
        if qs:
            qdf = local_df(spark, [(q.qid, q.text) for q in qs], "qid long, query string")
            for r in fn(docs, qdf).collect():
                out[r.qid].append((r.rank, r.doc_id, r.score))
    return {q: sorted(v) for q, v in out.items()}


def phrase_oracle(docs, phrases) -> dict[int, list[tuple]]:
    from colbert_jl_spark.operators.phrase import phrase_matches

    out: dict[int, list[tuple]] = {pid: [] for pid, _ in phrases}
    for r in phrase_matches(docs, phrases).collect():
        out[r.pid].append((r.doc_id, r.n_occurrences))
    return {p: sorted(v) for p, v in out.items()}


def oracles(spark, docs, queries: list[Query], phrases) -> tuple[dict, dict]:
    """The topk, conjunctive and phrase oracles, run as concurrent Spark
    jobs from three threads (they share nothing; set-up is shorter)."""
    from concurrent.futures import ThreadPoolExecutor

    topk = [q for q in queries if q.cls != "intersect"]
    conj = [q for q in queries if q.cls == "intersect"]
    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = (
            pool.submit(topk_oracle, spark, docs, topk),
            pool.submit(topk_oracle, spark, docs, conj),
            pool.submit(phrase_oracle, docs, phrases),
        )
        want_topk, want_conj, want_ph = (f.result() for f in futs)
    return {**want_topk, **want_conj}, want_ph


def same_topk(rows, want: dict[int, list[tuple]], qids) -> bool:
    got: dict[int, list[tuple]] = defaultdict(list)
    for r in rows:
        got[r.qid].append((r.rank, r.doc_id, r.score))
    for q in qids:
        g, w = sorted(got.get(q, [])), want[q]
        if len(g) != len(w):
            return False
        for (gr, gd, gs), (wr, wd, ws) in zip(g, w):
            if gr != wr or gd != wd or abs(gs - ws) > SCORE_TOL:
                return False
    return set(got) <= set(qids)


def same_phrases(rows, want, pids) -> bool:
    got: dict[int, list[tuple]] = defaultdict(list)
    for r in rows:
        got[r.pid].append((r.doc_id, r.n_occurrences))
    return set(got) <= set(pids) and all(sorted(got.get(p, [])) == want[p] for p in pids)


# -- shared run state -------------------------------------------------------


def pct(values: list[float], q: float) -> float:
    v = sorted(values)
    return v[min(len(v) - 1, int(q * len(v)))]


def tail(values: list[float]) -> tuple[float, int, int]:
    """(value, percentile, n): the highest whole percentile with at least
    ten samples above it; (max, 0, n) when there are not enough samples."""
    n = len(values)
    if n <= 10:
        return (max(values) if values else 0.0), 0, n
    p = int(100 * (n - 10) / n)
    return pct(values, p / 100), p, n


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


class Run:
    """One workload run: the Spark session, the tracer, op samples, check
    results and per-layer values."""

    def __init__(self, spark, tracer: Tracer, workdir: str, seed: int, seconds: float):
        self.spark = spark
        self.tr = tracer
        self.workdir = workdir
        self.seed = seed
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.layers: dict[str, list[float]] = defaultdict(list)
        self.info: dict = {}

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)
        return ok

    def guard(self, what: str, fn, *args):
        """Run one op; an exception counts as a failed op."""
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 - an op boundary that must keep running
            traceback.print_exc()
            self.check(False, f"{what} raised")
            return None

    def mark(self, name: str) -> None:
        """Record how far into the run a set-up step ended."""
        self.info.setdefault("marks", {})[name] = round(time.perf_counter() - self.info["t0"], 3)

    def layer(self, name: str, value: float) -> None:
        self.layers[name].append(float(value))

    # -- serving calls (shared by all workloads) ----------------------------

    def search(self, reader, queries: list[Query], want, kind: str):
        """One ``search`` call, timed and (with ``want``) checked. ``kind``
        is "search" (one topk query), "intersect" (one conjunctive query)
        or "batch" (many topk queries)."""
        t = time.perf_counter()
        reader.refresh()
        self.layer("reader.refresh_s", time.perf_counter() - t)
        mode = "intersect" if kind == "intersect" else "topk"
        with self.tr.span(kind) as sp:
            with self.tr.span("prep", parent=sp) as prep:
                df = reader.search([(q.qid, q.text) for q in queries], mode=mode)
            with self.tr.span("exec", parent=sp) as ex:
                rows = df.collect()
        self.samples[kind].append(sp.dur)
        if self.tr.enabled and kind != "batch":
            self._trace_search(sp, prep, ex, df, rows, queries[0])
        if want is not None:
            self.check(same_topk(rows, want, [q.qid for q in queries]), f"{kind} {queries[0].text!r}")
        return rows

    def _trace_search(self, sp: Span, prep: Span, ex: Span, df, rows, q: Query):
        st = self.tr.stage_stats(sp.attrs["jobs"])
        pm = self.tr.plan_metrics(df)
        udf = pm["nodes"].get("FlatMapGroupsInPandas", {})
        self.layer("reader.search.prep_s", prep.dur)
        self.layer("reader.search.exec_s", ex.dur)
        self.layer("reader.search.catalyst_s", pm["catalyst_s"])
        self.layer("reader.search.jobs", st.jobs)
        self.layer("reader.search.stages", st.stages)
        self.layer("reader.search.tasks", st.tasks)
        self.layer(f"reader.search.{q.cls}_p50_s", sp.dur)
        if udf:
            self.layer("wand.python_s", udf.get("pythonTotalTime", 0) / 1000)
            self.layer("wand.python_init_s", udf.get("pythonInitTime", 0) / 1000)
            self.layer("wand.arrow_bytes_sent", udf.get("pythonDataSent", 0))
            self.layer("wand.rows_in", pm["udf_rows_in"])
            if rows:
                self.layer("wand.rows_in_per_result", pm["udf_rows_in"] / len(rows))

    def search_local(self, reader, q: Query, want=None, expect_rows=None):
        """``search_local``; checked against the oracle, or against the
        rows ``search`` returned for the same query."""
        with self.tr.span("local") as sp:
            with self.tr.span("prep", parent=sp) as prep:
                df = reader.search_local([(q.qid, q.text)], mode="intersect" if q.cls == "intersect" else "topk")
            with self.tr.span("exec", parent=sp) as ex:
                rows = df.collect()
        self.samples["local"].append(sp.dur)
        if self.tr.enabled:
            st = self.tr.stage_stats(sp.attrs["jobs"])
            self.layer("reader.local.prep_s", prep.dur)
            self.layer("reader.local.exec_s", ex.dur)
            self.layer("reader.local.jobs", st.jobs)
            self.layer("reader.local.rows_collected", self.tr.filter_rows_since())
        if want is None:
            want = {q.qid: sorted((r.rank, r.doc_id, r.score) for r in expect_rows)}
        self.check(same_topk(rows, want, [q.qid]), f"search_local {q.text!r}")

    def phrase(self, reader, phrase: tuple[int, str], want):
        with self.tr.span("phrase") as sp:
            with self.tr.span("prep", parent=sp) as prep:
                df = reader.phrase([phrase])
            with self.tr.span("exec", parent=sp) as ex:
                rows = df.collect()
        self.samples["phrase"].append(sp.dur)
        if self.tr.enabled:
            st = self.tr.stage_stats(sp.attrs["jobs"])
            self.layer("phrase.prep_s", prep.dur)
            self.layer("phrase.exec_s", ex.dur)
            self.layer("phrase.shuffle_bytes", st.shuffle_write_bytes)
            self.layer("phrase.jobs", st.jobs)
        self.check(same_phrases(rows, want, [phrase[0]]), f"phrase {phrase[1]!r}")

    # -- build / compaction attribution ---------------------------------------

    def trace_build(self, index_path: str, sp: Span, positions: Span | None) -> None:
        """Attribute a build's (or a full compaction's) Spark jobs to the
        builder's stages by time window: each stage's ``completed_at`` in
        the stage ledger closes its window. plan and dictionary run
        concurrently, so they form one ``plan_dictionary`` window."""
        from colbert_jl_spark.plans.build import _load_stages

        done = _load_stages(index_path)
        ends = [
            ("postings", done["postings"]["completed_at"]),
            ("plan_dictionary", max(done["plan"]["completed_at"], done["dictionary"]["completed_at"])),
            ("blocks", done["blocks"]["completed_at"]),
            ("lineage", done["lineage"]["completed_at"]),
        ]
        start = sp.wall_start
        windows = []
        for name, end in ends:
            windows.append((name, start, end))
            start = end
        for name, a, b in windows:
            jobs = [j for j in sp.attrs["jobs"] if a <= j["submitted"] < b]
            self._stage_layer(name, b - a, jobs)
        if positions is not None:
            self._stage_layer("positions", positions.dur, positions.attrs["jobs"])
        lineage = lineage_sums(index_path)
        blocks_task_s = self.layers["build.blocks_task_s"][-1]
        self.layer("codec_blocks.groups", lineage["terms_seen"])
        self.layer("codec_blocks.block_rows", lineage["blocks_written"])
        self.layer("codec_blocks.bytes_compressed", lineage["bytes_compressed"])
        if lineage["terms_seen"]:
            self.layer("codec_blocks.core_ms_per_group", 1000 * blocks_task_s / lineage["terms_seen"])

    def _stage_layer(self, stage: str, wall_s: float, jobs: list[dict]) -> None:
        st = self.tr.stage_stats(jobs)
        self.layer(f"build.{stage}_s", wall_s)
        for key in ("task_s", "cpu_s", "shuffle_write_bytes", "spill_bytes", "task_skew", "jobs"):
            self.layer(f"build.{stage}_{key}", getattr(st, key))


def lineage_sums(index_path: str) -> dict[str, int]:
    """Sums over the index's lineage table, read with pyarrow (no Spark)."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(index_path, "lineage"))
    return {
        c: int(sum(v for v in t.column(c).to_pylist() if v is not None))
        for c in ("terms_seen", "blocks_written", "bytes_compressed")
    }


def index_bytes(index_path: str, plan: dict) -> int:
    return sum(
        dir_bytes(os.path.join(index_path, plan.get(key, default)))
        for key, default in (("blocks_dir", "blocks"), ("dictionary_dir", "dictionary"), ("docstats_dir", "docstats"))
    )


def make_corpus(run: Run, workload: str) -> list[gen.Corpus]:
    """The workload's corpus for the run's seed. Its counts and fingerprint
    must equal the ones recorded in corpus_counts.jsonl, when the seed is
    recorded there."""
    parts = [gen.generate(gen.SPECS[workload], run.seed)]
    run.info["corpus"] = gen.describe(workload, run.seed, parts)
    want = gen.recorded(workload, run.seed)
    if want is not None:
        run.check(run.info["corpus"] == want, f"corpus counts for seed {run.seed} equal the recorded ones")
    return parts


def timed_oracles(run: Run, docs, queries: list[Query], phrases) -> tuple[dict, dict]:
    """``oracles``, timed: the oracle is the benchmark's own work, so its
    time is taken out of ``setup_s``."""
    t = time.perf_counter()
    out = oracles(run.spark, docs, queries, phrases)
    run.info["oracle_s"] = time.perf_counter() - t
    run.mark("oracle")
    return out


def end_setup(run: Run) -> None:
    """Close set-up: process start until now, less the oracle's time."""
    run.info["setup_s"] = time.perf_counter() - run.info["t0"] - run.info.get("oracle_s", 0.0)


def check_index(run: Run, index_path: str, plan: dict, counts: dict, min_buckets: int) -> None:
    from colbert_jl_spark.plans.build import IndexReader

    report = IndexReader(run.spark, index_path).validate()
    run.check(report["ok"], f"validate() {report}")
    run.check(plan["n_docs"] == counts["docs"], "plan.n_docs == corpus docs")
    run.check(plan["total_postings"] == counts["postings"], "plan.total_postings == corpus postings")
    run.check(plan.get("n_buckets", 0) >= min_buckets, f"index spans >= {min_buckets} doc buckets")


# -- build-webtext ----------------------------------------------------------


def build_webtext(run: Run) -> dict:
    from colbert_jl_spark.plans.build import IndexBuilder, IndexReader

    spec = gen.SPECS["build-webtext"]
    parts = make_corpus(run, "build-webtext")
    counts = run.info["corpus"]
    docs = docs_frame(run.spark, parts).cache()
    docs.count()
    queries = make_queries(parts, run.seed)
    phrases = make_phrases(parts, run.seed)
    want, want_ph = timed_oracles(run, docs, queries, phrases)
    idx = os.path.join(run.workdir, "index")
    mix = QueryMix(queries, run.seed)

    def one_build():
        with run.tr.span("build") as sp:
            plan = IndexBuilder(idx).build(docs, force=True)
        with run.tr.span("build_positions") as pp:
            IndexBuilder(idx).build_positions(docs)
        run.samples["build"].append(sp.dur + pp.dur)
        if run.tr.enabled:
            run.trace_build(idx, sp, pp)
        check_index(run, idx, plan, counts, 2)
        return plan

    # warm-up: a build of a small slice spanning the same doc buckets pays
    # Python-worker spawn and codegen before timing
    slots = np.arange(0, spec.docs, spec.docs // WARMUP_DOCS)
    warm = docs_frame(run.spark, [gen.generate(spec, run.seed, slots=slots)])
    IndexBuilder(idx).build(warm, force=True)
    IndexBuilder(idx).build_positions(warm)
    run.mark("warmup")
    end_setup(run)

    run.tr.overhead_s = 0.0  # count tracing cost inside the loop only
    t0 = time.perf_counter()
    cycle = 0
    while time.perf_counter() - t0 < run.seconds or cycle < 2:
        plan = run.guard("build", one_build)
        if plan is None:
            cycle += 1
            continue
        reader = IndexReader(run.spark, idx)
        q = mix.next("search")
        run.guard("search", run.search, reader, [q], want, "search")
        run.guard("intersect", run.search, reader, [mix.pick("intersect")], want, "intersect")
        run.guard("search_local", run.search_local, reader, q, want)
        run.guard("phrase", run.phrase, reader, phrases[cycle % len(phrases)], want_ph)
        cycle += 1
    run.info["loop_s"] = time.perf_counter() - t0
    docs.unpersist()
    build_s = statistics.median(run.samples["build"])
    return {
        "throughput_per_s": counts["docs"] / build_s,
        "index_bytes_per_posting": index_bytes(idx, plan) / plan["total_postings"],
    }


# -- serve-hot --------------------------------------------------------------


def serve_hot(run: Run) -> dict:
    from colbert_jl_spark.plans.build import IndexBuilder, IndexReader

    parts = make_corpus(run, "serve-hot")
    counts = run.info["corpus"]
    docs = docs_frame(run.spark, parts).cache()
    docs.count()
    idx = os.path.join(run.workdir, "index")
    with run.tr.span("build") as sp:
        plan = IndexBuilder(idx).build(docs, force=True)
    with run.tr.span("build_positions") as pp:
        IndexBuilder(idx).build_positions(docs)
    if run.tr.enabled:
        run.trace_build(idx, sp, pp)
    check_index(run, idx, plan, counts, 2)
    run.mark("build")
    queries = make_queries(parts, run.seed)
    phrases = make_phrases(parts, run.seed)
    want, want_ph = timed_oracles(run, docs, queries, phrases)
    docs.unpersist()
    reader = IndexReader(run.spark, idx)
    with run.tr.span("load_hot") as lh:
        reader.load_hot()
    run.layer("reader.load_hot_s", lh.dur)
    run.mark("load_hot")

    topk = [q for q in queries if q.cls != "intersect"]
    mix = QueryMix(queries, run.seed)
    pick_ph = zipf_picker(len(phrases), run.seed + len(CLASSES))
    batch_rng = np.random.default_rng([run.seed, 41])

    def op(kind: str) -> None:
        if kind == "search":
            run.search(reader, [mix.next("search")], want, "search")
        elif kind == "intersect":
            run.search(reader, [mix.pick("intersect")], want, "intersect")
        elif kind == "local":
            run.search_local(reader, mix.next("local"), want)
        elif kind == "phrase":
            run.phrase(reader, phrases[pick_ph()], want_ph)
        else:
            batch = [topk[i] for i in batch_rng.choice(len(topk), BATCH_SIZE, replace=False)]
            run.search(reader, batch, want, "batch")

    # warm-up: each query DAG shape once (codegen; the build already
    # spawned the Python workers), not timed
    saved = run.samples, run.layers
    run.samples, run.layers = defaultdict(list), defaultdict(list)
    for kind in ("search", "local", "intersect", "phrase"):
        run.guard(kind, op, kind)
    run.samples, run.layers = saved
    end_setup(run)

    run.tr.overhead_s = 0.0  # count tracing cost inside the loop only
    t0 = time.perf_counter()
    answered = 0
    # whole schedule cycles only, so every run answers the same mix of
    # single and batched queries; SERVE_CYCLES outlast the run's seconds on
    # the host measured, so every run times the same calls
    cycles = 0
    while time.perf_counter() - t0 < run.seconds or cycles < SERVE_CYCLES:
        for kind in SERVE_SCHEDULE:
            run.guard(kind, op, kind)
            answered += BATCH_SIZE if kind == "batch" else 1
        cycles += 1
    loop_s = time.perf_counter() - t0
    run.info["loop_s"] = loop_s
    reader.release()
    return {
        "throughput_per_s": answered / loop_s,
        "index_bytes_per_posting": index_bytes(idx, plan) / plan["total_postings"],
    }


# -- ingest-serve -----------------------------------------------------------


def _land_pages(run: Run, part: gen.Corpus, pages_dir: str, name: str) -> int:
    """Write ``part`` as pages parquet and move it into the stream's source
    dir in one rename per file; returns the bytes landed."""
    from colbert_jl_spark.sources.pages import pages_from_documents

    staging = os.path.join(run.workdir, "staging", name)
    pages_from_documents(docs_frame(run.spark, [part])).coalesce(1).write.parquet(staging)
    landed = 0
    for f in sorted(os.listdir(staging)):
        if f.endswith(".parquet"):
            landed += os.path.getsize(os.path.join(staging, f))
            os.replace(os.path.join(staging, f), os.path.join(pages_dir, f"{name}-{f}"))
    shutil.rmtree(staging)
    return landed


def ingest_serve(run: Run) -> dict:
    from colbert_jl_spark.plans.build import IndexReader
    from colbert_jl_spark.streaming.ingest import (
        compact_streamed_index,
        minor_compact,
        stream_pages_to_postings,
    )

    spec = gen.SPECS["ingest-serve"]
    run.info["wave_docs"] = INGEST_WAVE_DOCS
    base = make_corpus(run, "ingest-serve")
    counts = run.info["corpus"]
    queries = make_queries(base, run.seed)
    idx = os.path.join(run.workdir, "index")
    pages_dir = os.path.join(run.workdir, "pages")
    ckpt = os.path.join(run.workdir, "checkpoint")
    os.makedirs(pages_dir)
    parts = list(base)

    def stream_and_compact(sp_name: str):
        with run.tr.span("ingest.stream") as st:
            stream_pages_to_postings(run.spark, pages_dir, idx, ckpt).stop()
        with run.tr.span(sp_name) as cp:
            plan = compact_streamed_index(run.spark, idx)
        return st, cp, plan

    _land_pages(run, base[0], pages_dir, "base")
    run.mark("base_landed")
    _, cp, plan = stream_and_compact("ingest.compact_full")
    run.mark("base_compacted")
    if run.tr.enabled:
        run.trace_build(idx, cp, None)
    check_index(run, idx, plan, counts, 2)
    reader = IndexReader(run.spark, idx)
    q = queries[0]  # warm-up: codegen for both query DAGs
    reader.search([(q.qid, q.text)]).collect()
    reader.search_local([(q.qid, q.text)]).collect()
    end_setup(run)

    rng = np.random.default_rng([run.seed, 53])
    mix = QueryMix(queries, run.seed)
    run.tr.overhead_s = 0.0  # count tracing cost inside the loop only
    t0 = time.perf_counter()
    wave = 0
    docs_in = 0
    while time.perf_counter() - t0 < run.seconds:
        wave += 1
        needle = f"needle{wave}s{run.seed}"
        slots = np.sort(rng.choice(spec.docs, INGEST_WAVE_DOCS, replace=False))
        part = gen.generate(spec, run.seed, slots=slots, offset=wave, needle=needle)
        needle_doc = int(part.doc_ids[[i for i, t in enumerate(part.texts) if t.startswith(needle)][0]])
        parts.append(part)
        t_land = time.perf_counter()
        in_bytes = _land_pages(run, part, pages_dir, f"wave{wave}")
        landed = time.perf_counter()
        st, cp, plan = stream_and_compact("ingest.compact")
        found = False
        for _ in range(20):  # each poll is a single-query search sample
            rows = run.guard("search", run.search, reader, [Query(-wave, needle, "tail")], None, "search")
            if rows is not None and [r.doc_id for r in rows] == [needle_doc]:
                found = True
                break
        fresh = time.perf_counter() - landed
        steps = {"land": landed - t_land, "stream": st.dur, "compact": cp.dur, "freshness": fresh}
        run.check(found, f"needle of wave {wave} found")
        run.samples["freshness"].append(fresh)
        run.samples["ingest"].append(st.dur + cp.dur)
        docs_in += len(part.doc_ids)
        run.layer("ingest.stream_s", st.dur)
        run.layer("ingest.compact_s", cp.dur)
        t = time.perf_counter()
        report = run.guard("validate", IndexReader(run.spark, idx).validate) or {}
        run.check(report.get("ok", False), f"validate() after wave {wave}")
        steps["validate"] = time.perf_counter() - t
        if run.tr.enabled:
            comp = plan.get("compaction", {})
            stats = run.tr.stage_stats(cp.attrs["jobs"])
            written = stats.output_bytes + run.tr.stage_stats(st.attrs["jobs"]).output_bytes
            run.layer("ingest.compact.postings_read", comp.get("postings_read", 0))
            run.layer("ingest.compact.probe_terms", comp.get("probe_terms") or 0)
            run.layer("ingest.compact.affected_buckets", comp.get("probe_buckets") or 0)
            run.layer("ingest.compact.task_s", stats.task_s)
            run.layer("ingest.compact.shuffle_write_bytes", stats.shuffle_write_bytes)
            run.layer("ingest.bytes_written_per_input_byte", written / in_bytes)
            run.layer("ingest.blocks_files_per_bucket_max", report.get("blocks_files_per_bucket_max", 0))
        t = time.perf_counter()
        for i in range(len(TOPK_CLASSES)):  # query sample on the unpinned reader
            q = mix.next("search")
            rows = run.guard("search", run.search, reader, [q], None, "search")
            if i == 0 and rows is not None:  # search_local must equal search
                run.guard("search_local", run.search_local, reader, q, None, rows)
        steps["queries"] = time.perf_counter() - t
        run.info.setdefault("wave_steps_s", []).append({k: round(v, 3) for k, v in steps.items()})
    run.info["loop_s"] = time.perf_counter() - t0
    run.info["waves"] = wave

    with run.tr.span("ingest.minor_compact") as mc:
        run.guard("minor_compact", minor_compact, run.spark, idx)
    run.layer("ingest.minor_compact_s", mc.dur)
    plan = reader.refresh().plan
    total = gen.count(parts)
    check_index(run, idx, plan, total, 2)
    # final top-k over every ingested doc equals the exhaustive oracle
    docs = docs_frame(run.spark, parts)
    final = [q for q in queries if q.cls != "intersect"][::6]
    want = topk_oracle(run.spark, docs, final)
    rows = reader.search([(q.qid, q.text) for q in final]).collect()
    run.check(same_topk(rows, want, [q.qid for q in final]), "final top-k equals oracle")
    return {
        "throughput_per_s": docs_in / sum(run.samples["freshness"]),
        "index_bytes_per_posting": index_bytes(idx, plan) / plan["total_postings"],
    }


WORKLOADS = {
    "build-webtext": build_webtext,
    "serve-hot": serve_hot,
    "ingest-serve": ingest_serve,
}
# AQE per workload. serve-hot and ingest-serve use the serving regime
# bench.py measures (off). build-webtext keeps the engine's session default
# (on): at this corpus size AQE coalesces the blocks-encode shuffle into a
# single task, which is part of what that workload measures.
AQE = {"build-webtext": True, "serve-hot": False, "ingest-serve": False}
