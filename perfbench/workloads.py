"""The benchmark's workloads. Each is closed loop with one client.

``ingest`` is the write path: per cycle two fresh ``build_index`` runs
with a fixed shard layout, an append wave through the manifest fingerprint-skip
path and a 1% removal log folded by ``compact_removals``; a query and a
32-query batch run after the append and again after compaction. ``search`` is the read path:
rounds of seven single-query shapes plus one 32-query ``search_batch``
request, against an index built in set-up.

Every request is timed around the call and the collect of its answer.
Answers are checked against the DuckDB oracle after the timed phase.

In a traced run the timed phase traces every other timed call, and the
parity flips each round (cycle), so over two rounds each call is traced
once and untraced once. The tracing overhead is the traced calls'
end-to-end numbers minus the untraced calls'.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import defaultdict

import numpy as np

import corpus
from corpus import QueryGen, render
from oracle import Oracle, same_newest, same_topk

K = 10
BLOCK_BITS = 10  # 1024-doc posting blocks
BLOCK = 1 << BLOCK_BITS
VOCAB = 30000


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, fs in os.walk(path):
        for f in fs:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _manifests(index_dir: str) -> dict[str, str]:
    d = os.path.join(index_dir, "manifests")
    out = {}
    for fn in sorted(os.listdir(d)) if os.path.isdir(d) else ():
        with open(os.path.join(d, fn)) as f:
            out[fn] = f.read()
    return out


def _one_query(bm25, reader, kind: str, q):
    s = render(q)
    if kind == "and_head_exact":
        df = bm25.search(reader, s, K)
    elif kind == "time_newest":
        df = bm25.search_time_newest(reader, s, K)
    else:
        df = bm25.search_wand_query(reader, s, K)
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def _batch(bm25, reader, queries: dict):
    rows = bm25.search_batch(reader, {qid: render(q) for qid, q in queries.items()}, K).collect()
    out = {qid: [] for qid in queries}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out[r["query_id"]].append((int(r["doc_id"]), float(r["score"])))
    return out


class Workload:
    """Shared request timing, trace alternation, answer checks and counters."""

    name = ""
    BATCH_SHAPES: tuple = QueryGen.FLAT  # shapes a 32-query batch cycles through

    def __init__(self, spark, tracer, tmp: str, seed: int):
        self.spark, self.tracer, self.tmp, self.seed = spark, tracer, tmp, seed
        self.attempted = 0
        self.failures: list[str] = []
        self.pending: list = []  # answers, checked against the oracle after timing
        self.layer: dict[str, list[float]] = defaultdict(list)  # driver-side layer readings
        self.alternate = False  # traced run: trace every other timed call
        self.lat: dict[str, list[tuple[float, bool]]] = defaultdict(list)  # kind -> (s, traced)
        self.build_s: list[tuple[float, bool]] = []  # fresh-build seconds, traced
        self.round = self.step = 0

    def _write(self, frame, name: str) -> str:
        path = os.path.join(self.tmp, "corpus", name)
        os.makedirs(path, exist_ok=True)
        frame.to_parquet(os.path.join(path, "part-0.parquet"), index=False)
        return path

    def _read(self, *paths: str):
        return self.spark.read.parquet(*paths)

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def _next_traced(self) -> bool:
        """Switch tracing on for the next timed call if it is a traced one."""
        self.tracer.enabled = self.alternate and (self.step + self.round) % 2 == 1
        self.step += 1
        return self.tracer.enabled

    def end_round(self) -> None:
        self.round += 1
        self.step = 0
        self.tracer.enabled = False

    def request(self, kind: str, fn, n_queries: int = 1):
        """Time one request; returns (collected answer or None on error, traced)."""
        self.attempted += n_queries
        traced = self._next_traced()
        with self.tracer.span(f"query.{kind}", kind=kind):
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception as e:  # a failing request counts; the loop goes on
                self.fail(f"{kind}: {type(e).__name__}: {e}")
                out = None
            dt = time.perf_counter() - t0
        self.tracer.enabled = False
        if out is not None:
            self.lat[kind].append((dt, traced))
        return out, traced

    def timed_op(self, span: str, fn):
        """Time one write-path call; returns (result, seconds, traced).
        Exceptions propagate (the cycle is void)."""
        traced = self._next_traced()
        try:
            with self.tracer.span(span):
                t0 = time.perf_counter()
                out = fn()
                return out, time.perf_counter() - t0, traced
        finally:
            self.tracer.enabled = False

    def warm_batch(self, reader, frame) -> None:
        """Untimed: one batch request, so the JVM has compiled the batch
        plan and the reader has filled its caches. Its own query stream
        (seed + 1) leaves the timed queries unchanged."""
        from miru_spark.query import bm25

        _batch(bm25, reader, QueryGen(frame, self.seed + 1, VOCAB).batch(32, self.BATCH_SHAPES))

    def check_topk(self, what, got, want) -> None:
        if got is not None and not same_topk(got, want, K):
            self.fail(f"{what}: got {got[:3]}.. want {want[:3]}..")

    def trace_layers(self, reader, q) -> None:
        """After a traced request: the driver-side layer calls for its query."""
        from miru_spark.query.parser import parse_query

        t0 = time.perf_counter()
        parse_query(render(q))
        self.layer["query.parse.us"].append((time.perf_counter() - t0) * 1e6)
        terms = sorted(set(q.terms()))
        self.tracer.enabled = True
        with self.tracer.span("index.reader.term_stats"):
            reader.term_stats(terms)
        with self.tracer.span("index.reader.postings") as sp:
            sp.attrs["rows"] = reader.postings(terms).count()
        self.tracer.enabled = False

    def query_metrics(self, traced: bool) -> dict:
        singles = [dt for k, v in self.lat.items() if k != "batch32" for dt, t in v if t == traced]
        batches = [dt for dt, t in self.lat.get("batch32", []) if t == traced]
        busy = sum(singles) + sum(batches)
        answered = len(singles) + 32 * len(batches)
        return {
            "query_p50_s": statistics.median(singles) if singles else float("nan"),
            "batch_p50_s": statistics.median(batches) if batches else float("nan"),
            "qps": answered / busy if busy else float("nan"),
        }

    def singles(self) -> list[float]:
        """Every single-query latency of the timed phase."""
        return sorted(dt for k, v in self.lat.items() if k != "batch32" for dt, _ in v)


class Ingest(Workload):
    name = "ingest"
    N_BASE = 8192
    BUILDS = 2  # fresh builds per cycle; build_docs_per_s is their median rate
    WAVE = 410  # ~5%: a new shard 4
    SPAN_BLOCKS = 2  # 2048-doc shards
    REMOVE_SHARE = 0.01
    # the positional sidecar build costs about 1 ms per distinct (term,
    # block) pair, so the phrase index is a block and an appended block
    # over a small vocabulary
    PHRASE_VOCAB = 500
    BATCH_SHAPES = ("and_head", "and_rare", "or3")  # no keyword fields in this index

    def setup(self) -> None:
        """Generate the corpora."""
        s = self.seed
        self.base = corpus.generate(self.N_BASE, s)
        self.wave = corpus.generate(self.WAVE, s, first_id=self.N_BASE)
        n = self.N_BASE + self.WAVE
        rng = np.random.default_rng([s, 31])
        self.removed = sorted(rng.choice(n, int(n * self.REMOVE_SHARE), replace=False).tolist())
        self.paths = [self._write(self.base, "base"), self._write(self.wave, "wave")]
        self.phrase = [corpus.generate(BLOCK, s, first_id=i * BLOCK, vocab=self.PHRASE_VOCAB)
                       for i in range(2)]
        self.phrase_paths = [self._write(f, f"phrase{i}") for i, f in enumerate(self.phrase)]
        self.qg = QueryGen(self.base, s, VOCAB)
        self.pq = QueryGen(self.phrase[0], s, self.PHRASE_VOCAB)
        self.shape = corpus.shape(self.base, VOCAB, self.N_BASE // (self.SPAN_BLOCKS * BLOCK))
        self.bytes_per_doc: list[float] = []
        self.phrase_answer = None

    def sample_frame(self):
        return self.base

    def warm_up(self) -> None:
        """Untimed, once per process: a one-block build and a batch
        request, so the timed cycle does not pay the JVM's first-use
        costs. (A warm-up at full size costs more time than a run can
        spare.)"""
        from miru_spark.index.builder import build_index
        from miru_spark.index.reader import IndexReader

        frame = corpus.generate(BLOCK, self.seed)
        idx = os.path.join(self.tmp, "warm-idx")
        build_index(self.spark, self._read(self._write(frame, "warm")), idx,
                    block_bits=BLOCK_BITS, shard_span_blocks=1)
        self.warm_batch(IndexReader(self.spark, idx), frame)
        shutil.rmtree(idx)

    def run(self, seconds: float, min_rounds: int) -> None:
        deadline = time.time() + seconds
        while self.round < min_rounds or time.time() < deadline:
            self.cycle(self.round)
            self.end_round()

    def cycle(self, c: int) -> None:
        from miru_spark.index.builder import apply_removals, build_index, compact_removals
        from miru_spark.index.reader import IndexReader
        from miru_spark.query import bm25

        spark, idx = self.spark, os.path.join(self.tmp, f"ingest-{c}")
        layout = dict(block_bits=BLOCK_BITS, shard_span_blocks=self.SPAN_BLOCKS)
        self.attempted += 1
        try:
            for _ in range(self.BUILDS):
                _, dt, traced = self.timed_op("index.build_index", lambda: build_index(
                    spark, self._read(self.paths[0]), idx, overwrite=True, **layout))
                self.build_s.append((dt, traced))
            before = _manifests(idx)
            meta, _, _ = self.timed_op("index.append", lambda: build_index(
                spark, self._read(*self.paths), idx, **layout))
            after = _manifests(idx)
            self.layer["index.append.shards_rebuilt"].append(
                sum(1 for k, v in after.items() if before.get(k) != v))
            reader = IndexReader(spark, idx)
            probe_terms = [corpus.HEAD, corpus.word(1), corpus.word(500), corpus.word(20000)]
            after_append = self.probes(bm25, reader, "and_head", (
                meta.n_docs, meta.n_terms, reader.term_stats(probe_terms)))

            ops = spark.createDataFrame(
                [(d, "remove", 1) for d in self.removed], "doc_id long, op string, version long")
            self.timed_op("index.apply_removals", lambda: apply_removals(spark, idx, ops))
            files0 = _files(idx)
            self.timed_op("index.compact_removals", lambda: compact_removals(spark, idx))
            files1 = _files(idx)
            self.layer["index.compact_removals.bytes_rewritten"].append(
                sum(sz for p, (sz, mt) in files1.items() if files0.get(p) != (sz, mt)))
            reader = IndexReader(spark, idx)
            self.bytes_per_doc.append(_du(idx) / reader.n_docs)
            after_compact = self.probes(bm25, reader, "or3", (
                reader.n_docs, reader.stats["n_terms"], reader.term_stats(probe_terms)))
        except Exception as e:  # a failed write-path step voids the cycle
            self.fail(f"ingest cycle {c}: {type(e).__name__}: {e}")
            return
        finally:
            shutil.rmtree(idx, ignore_errors=True)
        self.pending.append((c, probe_terms, (after_append, after_compact)))

    def probes(self, bm25, reader, kind: str, stats) -> tuple:
        """A query of ``kind`` and a 32-query batch on ``reader``; returns
        them with the index ``stats`` for the checks."""
        q = self.qg.make(kind)
        got, traced = self.request(kind, lambda: _one_query(bm25, reader, kind, q))
        if traced:
            self.trace_layers(reader, q)
        qb = self.qg.batch(32, self.BATCH_SHAPES)
        gotb, _ = self.request("batch32", lambda: _batch(bm25, reader, qb), n_queries=len(qb))
        return stats, q, got, qb, gotb

    def trace_extra(self) -> None:
        """Traced runs only, after the timed phase (its cost does not fit
        an untraced run): a phrase index with its positional sidecar, an
        appended block with an incremental sidecar build, a phrase query
        through the sidecar and ``phrase_match_ids``."""
        from miru_spark.index.builder import build_index
        from miru_spark.index.positions import build_positions, phrase_match_ids
        from miru_spark.index.reader import IndexReader
        from miru_spark.query import bm25

        spark, pidx = self.spark, os.path.join(self.tmp, "phrase-idx")
        base, grown = self._read(self.phrase_paths[0]), self._read(*self.phrase_paths)
        layout = dict(block_bits=BLOCK_BITS, shard_span_blocks=1)
        tr = self.tracer
        try:
            build_index(spark, base, pidx, **layout)
            with tr.span("index.positions.build", docs=BLOCK):
                build_positions(spark, base, pidx)
            build_index(spark, grown, pidx, **layout)
            with tr.span("index.positions.build_incremental", docs=BLOCK):
                build_positions(spark, grown, pidx)
            reader = IndexReader(spark, pidx)
            q = self.pq.make("phrase")
            self.attempted += 1
            with tr.span("query.phrase"):
                got = _one_query(bm25, reader, "phrase", q)
            with tr.span("index.positions.phrase_match"):
                phrase_match_ids(reader, list(q.args)).count()
            self.phrase_answer = (q, got)
        except Exception as e:
            self.fail(f"phrase: {type(e).__name__}: {e}")
        finally:
            shutil.rmtree(pidx, ignore_errors=True)

    def verify(self) -> None:
        import pandas as pd

        o = Oracle(pd.concat([self.base, self.wave], ignore_index=True))
        try:
            for stage, after in enumerate(("append", "compaction")):
                if stage:
                    o.remove(self.removed)
                for c, terms, probes in self.pending:
                    stats, q, got, qb, gotb = probes[stage]
                    what = f"cycle {c} after {after}"
                    self._stats(what, stats, o.stats(terms))
                    self.check_topk(f"{what}: {render(q)}", got, o.topk(q, K))
                    for qid, qq in qb.items() if gotb is not None else ():
                        self.check_topk(f"{what}: batch {render(qq)}", gotb[qid], o.topk(qq, K))
        finally:
            o.close()
        if self.phrase_answer is not None:
            q, got = self.phrase_answer
            po = Oracle(pd.concat(self.phrase, ignore_index=True))
            try:
                self.check_topk(f"phrase {render(q)}", got, po.topk(q, K))
            finally:
                po.close()

    def _stats(self, what, got, want) -> None:
        n_docs, n_terms, ts = got
        self.attempted += 1
        df = {t: ts.get(t, {}).get("df", 0) for t in want["df"]}
        if (n_docs, n_terms, df) != (want["n_docs"], want["n_terms"], want["df"]):
            self.fail(f"{what}: engine {(n_docs, n_terms, df)} oracle "
                      f"{(want['n_docs'], want['n_terms'], want['df'])}")

    def metrics(self, traced: bool) -> dict:
        builds = [dt for dt, t in self.build_s if t == traced]
        m = self.query_metrics(traced)
        m.update({
            "build_docs_per_s": self.N_BASE / statistics.median(builds) if builds else float("nan"),
            "index_bytes_per_doc": statistics.median(self.bytes_per_doc),
        })
        return m


class Search(Workload):
    name = "search"
    N_DOCS = 4096  # 4 shards of 1 block
    SPAN_BLOCKS = 1
    MIX = ("and_head", "or3", "and_rare", "fielded", "batch32", "and_head_exact",
           "time_newest", "router_nested")

    def setup(self) -> None:
        """Generate the corpus and build the index."""
        from miru_spark.index.builder import build_index
        from miru_spark.index.reader import IndexReader

        self.frame = corpus.generate(self.N_DOCS, self.seed)
        path = self._write(self.frame, "base")
        self.idx = os.path.join(self.tmp, "search-idx")
        with self.tracer.span("index.build_index"):
            t0 = time.perf_counter()
            build_index(self.spark, self._read(path), self.idx, block_bits=BLOCK_BITS,
                        shard_span_blocks=self.SPAN_BLOCKS, keyword_fields={"lang": "lang"},
                        overwrite=True)
            self.build_s.append((time.perf_counter() - t0, self.tracer.enabled))
        self.reader = IndexReader(self.spark, self.idx)
        self.qg = QueryGen(self.frame, self.seed, VOCAB)
        self.shape = corpus.shape(self.frame, VOCAB, self.N_DOCS // (self.SPAN_BLOCKS * BLOCK))

    def sample_frame(self):
        return self.frame

    def warm_up(self) -> None:
        """Untimed, after set-up: one batch request on the index (the
        set-up builds have warmed the rest of the JVM). A warm-up request
        of every kind would cost a whole round."""
        self.warm_batch(self.reader, self.frame)

    def run(self, seconds: float, min_rounds: int) -> None:
        from miru_spark.query import bm25

        deadline = time.time() + seconds
        # whole rounds of the mix, so every run answers every shape
        while self.round < min_rounds or time.time() < deadline:
            for kind in self.MIX:
                if kind == "batch32":
                    qs = self.qg.batch(32, self.BATCH_SHAPES)
                    got, _ = self.request(kind, lambda: _batch(bm25, self.reader, qs),
                                          n_queries=len(qs))
                    self.pending.append((kind, qs, got))
                    continue
                q = self.qg.make(kind)
                got, traced = self.request(kind, lambda: _one_query(bm25, self.reader, kind, q))
                self.pending.append((kind, q, got))
                if traced:
                    self.trace_layers(self.reader, q)
            self.end_round()

    def trace_extra(self) -> None:
        pass

    def verify(self) -> None:
        o = Oracle(self.frame)
        try:
            for kind, q, got in self.pending:
                if got is None:
                    continue
                if kind == "batch32":
                    for qid, qq in q.items():
                        self.check_topk(f"batch {render(qq)}", got[qid], o.topk(qq, K))
                elif kind == "time_newest":
                    if not same_newest(got, o.topk(q, K, newest=True), K):
                        self.fail(f"time_newest {render(q)}: got ids {[d for d, _ in got]}")
                else:
                    self.check_topk(f"{kind} {render(q)}", got, o.topk(q, K))
        finally:
            o.close()

    def metrics(self, traced: bool) -> dict:
        # the first set-up build warms the JVM's builder paths; it is not a sample
        builds = [dt for dt, t in self.build_s[1:] if t == traced]
        m = self.query_metrics(traced)
        m.update({
            "build_docs_per_s": self.N_DOCS / statistics.median(builds) if builds else float("nan"),
            "index_bytes_per_doc": _du(self.idx) / self.N_DOCS,
        })
        return m


WORKLOADS = {w.name: w for w in (Ingest, Search)}
