"""One benchmark run: set-up, a closed-loop read phase, a write phase,
untimed checks, then the metrics.

Every workload runs the same operations over a different input, so
each run reports every metric: the inputs differ in corpus and segment
size, and so in the length of the posting lists a search reads, not in
which operations run.
"""

from __future__ import annotations

import dataclasses
import os
import platform
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from lucene_spark.index.merge import MergePolicy
from perfbench import inputs
from perfbench.oracle import Twin
from perfbench.stats import OpLog, median, tail
from perfbench.trace import (RssSampler, SparkJobs, Tracer, breakdown, layer_self_ms,
                             self_times, wrap)

K = 10
PQ_M, PQ_CODES, PQ_ITERS, PQ_REFINE = 8, 16, 1, 8
HNSW_PARTITIONS = 2  # one graph per partition, built in parallel

# Input sizes per workload. "docs" is the base corpus; the ingest
# cycle appends "batch" docs with "batch_deletes" pending deletes.
WORKLOADS = {
    "serve_small": {
        "docs": 5000, "per_segment": 1000,
        "vectors": 2000, "dims": 64, "batch": 1000, "batch_deletes": 100,
    },
    "serve_large": {
        "docs": 12000, "per_segment": 6000,
        "vectors": 2000, "dims": 64, "batch": 1000, "batch_deletes": 100,
    },
}
# --tiny: the same run at a size that finishes in well under a minute
TINY = {"docs": 600, "per_segment": 200, "vectors": 300, "batch": 100,
        "batch_deletes": 10}

END_TO_END = {
    "setup_s": "s", "search_p50_ms": "ms", "sql64_p50_ms": "ms",
    "hnsw_p50_ms": "ms", "ingest_cycle_s": "s",
    "index_bytes_per_doc_byte": "ratio", "peak_rss_mb": "MB",
    "recall_at_10": "ratio",
}


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _table_bytes(idx: str) -> dict[str, int]:
    return {t: _dir_bytes(os.path.join(idx, t))
            for t in ("postings", "term_stats", "docs", "doclens")}


def _read_table(path: str, columns=None, filt=None) -> pa.Table:
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns, filter=filt)


def _query(Q, field: str, spec: tuple):
    kind = spec[0]
    T = lambda t: Q.TermQuery(field, t)  # noqa: E731
    if kind == "term":
        return T(spec[1])
    if kind == "and":
        return Q.BooleanQuery(must=tuple(T(t) for t in spec[1:]))
    if kind == "or":
        return Q.BooleanQuery(should=tuple(T(t) for t in spec[1:]))
    if kind == "phrase":
        return Q.PhraseQuery(field, tuple(spec[1:]))
    if kind == "sloppy":
        return Q.PhraseQuery(field, (spec[1], spec[2]), slop=spec[3])
    if kind == "prefix":
        return Q.PrefixQuery(field, spec[1])
    if kind == "dismax":
        return Q.DisjunctionMaxQuery((T(spec[1]), T(spec[2])), spec[3])
    raise ValueError(f"unknown search kind {kind}")


def _terms_of(spec: tuple) -> list[str]:
    return [x for x in spec[1:] if isinstance(x, str)]


def start_session(cores: int, work: str):
    """The program's own session, ``lucene_spark.get_spark(cores=N)``.
    get_spark ships the package to the Python workers as a zip it
    writes to /tmp; here that zip is written under ``work`` instead, so
    the run leaves nothing outside its directory. JVM scratch files go
    there through the environment run.py sets."""
    from lucene_spark import session

    orig = session.make_pyfiles_zip
    session.make_pyfiles_zip = lambda out_dir=None: orig(out_dir or work)
    try:
        return session.get_spark("perfbench", cores=cores)
    finally:
        session.make_pyfiles_zip = orig


def stop_session(spark) -> None:
    """Stop the context, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class _MergeGroup(MergePolicy):
    """A merge policy that merges exactly the given segments."""

    def __init__(self, seg_ids: list[str]) -> None:
        self.seg_ids = set(seg_ids)

    def find_merges(self, segments: list[dict]) -> list[list[str]]:
        ids = sorted(s["segment_id"] for s in segments if s["segment_id"] in self.seg_ids)
        return [ids] if len(ids) > 1 else []


class Run:
    def __init__(self, name: str, seed: int, seconds: float, traced: bool,
                 cores: int, work: str, tiny: bool = False) -> None:
        self.name, self.seed, self.seconds = name, seed, seconds
        self.cores, self.work = cores, work
        self.size = dict(WORKLOADS[name], **(TINY if tiny else {}))
        self.tracer = Tracer(traced)
        self.traced = traced
        self.log = OpLog()
        self.results: dict = {}       # (kind, spec) -> first result
        self.op_stats: list[dict] = []  # traced ops: span + Spark job metrics
        self.write_checks: list = []   # deferred checks of the write phase
        self.record: dict = {}
        self.layer: dict = {}
        self.undo: list = []

    # ---------------------------------------------------------------- setup

    def _setup(self) -> None:
        from lucene_spark.index.bloom import write_bloom_sidecar
        from lucene_spark.index.builder import IndexConfig, build_index
        from lucene_spark.pipeline import graphann as ga
        from lucene_spark.pipeline import pq as pqm
        from lucene_spark.search import query as Q

        sz, w, tr = self.size, self.work, self.tracer
        spark = self.spark
        self.Q = Q
        t0 = time.perf_counter()
        # inputs are written by the benchmark; the engine reads them
        vec = inputs.vectors(sz["vectors"], sz["dims"], self.seed)
        self.vecs = np.stack(vec["embedding"].to_numpy())
        pq.write_table(pa.Table.from_pandas(vec, preserve_index=False),
                       f"{w}/embeddings.parquet")
        self.field = "text"
        base = inputs.documents(sz["docs"], self.seed)
        pq.write_table(pa.Table.from_pandas(base, preserve_index=False),
                       f"{w}/documents.parquet")
        self.base_docs = base[["doc_id", "text"]]
        self.icfg = IndexConfig(
            field="text", content_col="text", analyzer="simple",
            doc_id_col="doc_id", docs_per_segment=sz["per_segment"])
        prep_s = time.perf_counter() - t0

        steps = self.record["setup_steps_s"] = {}
        t0 = tc = time.perf_counter()
        with tr.span("setup.corpus"):
            src = spark.read.parquet(f"{w}/documents.parquet")
            self.emb = spark.read.parquet(f"{w}/embeddings.parquet")
        steps["corpus"] = time.perf_counter() - tc
        self.idx = f"{w}/index"
        with self._spark_op("builder"), tr.span("builder.build_index"):
            tb = time.perf_counter()
            build_index(spark, src, self.idx, self.icfg)
            self.build_s = steps["build"] = time.perf_counter() - tb
        self.jobs_build = self.jobs.collect("builder") if self.traced else None
        tb = time.perf_counter()
        with tr.span("bloom.write"):
            write_bloom_sidecar(spark, self.idx)
        steps["bloom"] = time.perf_counter() - tb
        ta = time.perf_counter()
        with tr.span("ann.write"):
            ga.hnsw_index_write(self.emb, f"{w}/hnsw", partitions=HNSW_PARTITIONS)
        self.ann_write_s = steps["hnsw"] = time.perf_counter() - ta
        if self.traced:
            # PQ and the merge round are too slow for every run's budget:
            # only the traced run has them, and PQ is kept out of setup_s
            setup_extra = time.perf_counter()
            with tr.span("pq.write"):
                pqm.pq_index_write(self.emb, f"{w}/pq", m=PQ_M, n_codes=PQ_CODES,
                                   iters=PQ_ITERS)
            self.pq_write_s = time.perf_counter() - setup_extra
            t0 += self.pq_write_s
        # query selection is benchmark work: kept out of setup_s
        tq = time.perf_counter()
        self._choose_queries()
        choose_s = time.perf_counter() - tq
        self.opens = []
        first = next(s for k, s in self.mix if k == "search")
        to = time.perf_counter()
        self.reader, self.searcher, _ = self._open(first)
        steps["open"] = time.perf_counter() - to
        self.setup_s = self.session_s + time.perf_counter() - t0 - choose_s
        self.record["input_prep_s"] = prep_s

    def _open(self, spec: tuple):
        """New IndexReader + its first search: what a reader waits for
        before it sees the latest commit."""
        from lucene_spark.search.executor import IndexReader, IndexSearcher

        with self.tracer.span("reader.open"):
            t0 = time.perf_counter()
            reader = IndexReader(self.spark, self.idx)
            self.opens.append(time.perf_counter() - t0)
            searcher = IndexSearcher(reader)
            with self.tracer.span("search"):
                top = searcher.search(_query(self.Q, self.field, spec), k=K)
        return reader, searcher, top

    # -------------------------------------------------------------- queries

    def _choose_queries(self) -> None:
        ts = _read_table(f"{self.idx}/term_stats", ["field", "term", "doc_freq"])
        ts = ts.to_pandas()
        ts = ts[ts["field"] == self.field]
        term_df = dict(zip(ts["term"], ts["doc_freq"].astype(int)))
        self.bands = inputs.df_bands(term_df, self.size["docs"])
        self.record["df_bands"] = {k: len(v) for k, v in self.bands.items()}
        self.record["dictionary_terms"] = len(term_df)
        sample = self.base_docs["text"].head(500).tolist()
        self.mix = inputs.query_mix(self.seed, self.bands, sample,
                                    self.size["vectors"], traced=self.traced)
        self.warmup = inputs.warmup_ops(self.seed, self.bands, self.size["vectors"],
                                        traced=self.traced)

    # ------------------------------------------------------------ operations

    @contextmanager
    def _spark_op(self, group: str):
        """In the traced run, tag the Spark jobs of one operation with a
        job group so their metrics can be read back."""
        tag = self.traced and self.tracer.enabled
        if tag:
            self.jobs.begin(group)
        try:
            yield
        finally:
            if tag:
                self.jobs.end()

    def _timed(self, kind: str, key, fn):
        """Run one operation, log its latency, and in the traced run
        attach its span and Spark metrics."""
        op_id = self.log.attempted
        group = f"perfbench-op{op_id}"
        err, result = None, None
        with self._spark_op(group), self.tracer.span(kind, op=op_id) as sp:
            t0 = time.perf_counter()
            try:
                result = fn()
            except Exception as e:  # a failing op is counted, not fatal
                err = f"{type(e).__name__}: {e}"
            dt = time.perf_counter() - t0
        op = self.log.add(kind, dt, key, err)
        op["traced"] = sp is not None
        if sp is not None:
            self.op_stats.append({"op": op, "span": sp,
                                  "spark": self.jobs.collect(group)})
        return op, result

    def _run_read(self, kind: str, spec: tuple, warmup: bool = False) -> None:
        from lucene_spark.pipeline import graphann as ga
        from lucene_spark.pipeline import pq as pqm
        from lucene_spark.search import sqlpath as sp

        f, w = self.field, self.work
        if kind == "search":
            q = _query(self.Q, f, spec)
            fn = lambda: [(h.doc_id, h.score) for h in self.searcher.search(q, k=K).hits]  # noqa: E731
        elif kind == "sql64":
            fn = lambda: [  # noqa: E731
                (int(r[0]), int(r[1]))
                for r in sp.bool_bm25_topk(self.reader, f, must=[spec[0]],
                                           should=[spec[1], spec[2]], k=K).collect()]
        elif kind == "count":
            q = _query(self.Q, f, spec)
            fn = lambda: self.searcher.count(q)  # noqa: E731
        elif kind == "hnsw":
            qv = [float(x) for x in self.vecs[spec[0]]]
            fn = lambda: [  # noqa: E731
                (int(r[0]), int(r[1]))
                for r in ga.hnsw_index_topk(self.spark, f"{w}/hnsw", qv, k=K,
                                            exclude_vec_id=spec[0]).collect()]
        elif kind == "pq":
            fn = lambda: [  # noqa: E731
                (int(r[0]), int(r[1]))
                for r in pqm.pq_index_topk(self.spark, self.emb, f"{w}/pq",
                                           query_id=spec[0], k=K,
                                           refine=PQ_REFINE).collect()]
        else:
            raise ValueError(kind)
        if warmup:
            enabled, self.tracer.enabled = self.tracer.enabled, False
            try:
                fn()
            finally:
                self.tracer.enabled = enabled
            return
        op, result = self._timed(kind, (kind, spec), fn)
        if op["error"] is None:
            first = self.results.setdefault((kind, spec), (op, result))
            if first[1] != result:
                self.log.fail(op, "result differs from the first run of this query")

    def _read_phase(self) -> None:
        """Closed loop, one client: the next op starts when the last ends.
        Whole passes over the mix until ``seconds`` have passed (at least
        one), so every run makes the same ops. The traced run makes one
        pass and runs each search twice in a row, traced and untraced
        (alternating which goes first): the pairs measure the tracing
        overhead."""
        for kind, spec in self.warmup:
            self._run_read(kind, spec, warmup=True)
        t_end = time.perf_counter() + self.seconds
        i = 0
        while i % len(self.mix) or i == 0 or (
                not self.traced and time.perf_counter() < t_end):
            kind, spec = self.mix[i % len(self.mix)]
            if self.traced and kind == "search":
                for on in ((True, False) if i % 2 == 0 else (False, True)):
                    self.tracer.enabled = on
                    self._run_read(kind, spec)
                self.tracer.enabled = True
            else:
                self._run_read(kind, spec)
            i += 1
        self.record["read_passes"] = i / len(self.mix)

    # --------------------------------------------------------------- writes

    def _write_phase(self) -> None:
        from lucene_spark.index import manifest as mani
        from lucene_spark.index.deletes import delete_by_term
        from lucene_spark.index.merge import merge_round
        from lucene_spark.streaming.nrt import append_batch

        sz, spark = self.size, self.spark
        rng = np.random.default_rng([self.seed, 4])
        self.live = set(int(d) for d in self.base_docs["doc_id"])
        all_docs = [self.base_docs]
        rare = list(self.bands["rare"] or self.bands["mid"])
        probe = next(s for k, s in self.mix if k == "search" and s[0] == "and")
        # the micro-batch lands as two segments; the traced run's
        # merge_round merges them into one
        bcfg = dataclasses.replace(self.icfg, docs_per_segment=-(-sz["batch"] // 2))
        first_id = int(self.base_docs["doc_id"].max()) + 1
        batch = inputs.documents(sz["batch"], self.seed, first_id=first_id)
        bdf = spark.createDataFrame(batch)
        pending = sorted(int(x) for x in rng.choice(
            sorted(self.live), sz["batch_deletes"], replace=False))
        pdel = spark.createDataFrame(pd.DataFrame({"doc_id": np.array(pending, dtype=np.int64)}))
        m0 = mani.read_manifest(self.idx)
        op, _ = self._timed("append", None, lambda: append_batch(
            spark, bdf, self.idx, bcfg, pending_deletes=pdel))
        m1 = mani.read_manifest(self.idx)
        new_b = max(b["batch"] for b in m1["batches"])
        appended_segments = [s["segment_id"] for b in m1["batches"]
                             if b["batch"] == new_b for s in b["segments"]]
        added = batch[["doc_id", "text"]]
        all_docs.append(added)
        self.write_checks.append(("append", op, m0, m1, len(batch), len(pending)))
        self.live -= set(pending)
        self.live |= set(int(d) for d in added["doc_id"])

        term = rare[int(rng.integers(len(rare)))]
        live_before = set(self.live)
        m0 = mani.read_manifest(self.idx)
        op, _ = self._timed("delete", term, lambda: delete_by_term(
            spark, self.idx, self.field, term))
        m1 = mani.read_manifest(self.idx)
        self.write_checks.append(("delete", op, m0, m1, term, live_before))
        self._apply_term_delete(term, all_docs)
        self._reopen(probe)

        self.tombstone_rows = _read_table(f"{self.idx}/deletes", ["doc_id"]).num_rows
        self.all_docs = pd.concat(all_docs, ignore_index=True)
        if not self.traced:
            return
        m0 = mani.read_manifest(self.idx)
        self.merge_docs = sum(int(s["num_docs"]) for b in m0["batches"]
                              for s in b["segments"] if s["segment_id"] in appended_segments)
        op, merged = self._timed("merge", None, lambda: merge_round(
            spark, self.idx, policy=_MergeGroup(appended_segments)))
        m1 = mani.read_manifest(self.idx)
        self.write_checks.append(("merge", op, m0, m1, merged, len(appended_segments)))
        self._reopen(probe)

    def _apply_term_delete(self, term: str, all_docs: list) -> None:
        docs = pd.concat(all_docs, ignore_index=True)
        hit = {int(d) for d, t in zip(docs["doc_id"], docs["text"])
               if term in set(inputs.simple_tokens(t))}
        self.live -= hit

    def _reopen(self, spec: tuple) -> None:
        op, out = self._timed("reopen", spec, lambda: self._open(spec))
        if op["error"] is None:
            self.reader, self.searcher, top = out
            hits = [(h.doc_id, h.score) for h in top.hits]
            self.write_checks.append(("reopen", op, spec, hits, set(self.live)))

    # ---------------------------------------------------------------- checks

    def _check(self) -> None:
        from lucene_spark.search import query as Q

        twin = Twin(self.base_docs)
        try:
            for (kind, spec), (op, result) in self.results.items():
                if kind == "search":
                    why = twin.check_search(spec, result, K)
                elif kind == "sql64":
                    why = twin.check_sql64(spec, result, K)
                elif kind == "count":
                    why = twin.check_count(spec, result)
                else:
                    why = self._check_ann(spec[0], result)
                if why:
                    for o in self.log.ops:
                        if o["key"] == (kind, spec):
                            self.log.fail(o, why)
        finally:
            twin.close()
        self._check_writes()
        if self.live is not None:
            n = self.searcher.count(Q.MatchAllQuery())
            if n != len(self.live):
                self.log.fail(self.log.ops[-1], f"live docs {n} vs expected {len(self.live)}")

    def _check_ann(self, qid: int, rows: list[tuple[int, int]]) -> str | None:
        ids = [v for v, _ in rows]
        if len(rows) != K or len(set(ids)) != K or qid in ids:
            return f"{len(rows)} rows, {len(set(ids))} distinct, self={qid in ids}"
        unit = self.vecs / np.linalg.norm(self.vecs, axis=1, keepdims=True)
        for v, c in rows:
            exact = float(unit[v].astype(np.float64) @ unit[qid].astype(np.float64))
            if abs(exact * 1e6 - c) > 3:
                return f"vec {v} cos {c / 1e6:.6f} vs exact {exact:.6f}"
        return None

    def _check_writes(self) -> None:
        twin = Twin(self.all_docs)
        try:
            for chk in self.write_checks:
                kind, op = chk[0], chk[1]
                if op["error"]:
                    continue
                why = None
                if kind == "append":
                    _, _, m0, m1, n_new, n_del = chk
                    if m1["num_docs_total"] - m0["num_docs_total"] != n_new:
                        why = "num_docs_total did not grow by the batch size"
                    elif m1.get("num_deleted", 0) - m0.get("num_deleted", 0) != n_del:
                        why = "pending deletes not published with the append"
                elif kind == "delete":
                    _, _, m0, m1, term, live_before = chk
                    want = len(twin.match([term]) & live_before)
                    got = m1.get("num_deleted", 0) - m0.get("num_deleted", 0)
                    if got != want:
                        why = f"tombstoned {got} docs, twin says {want}"
                elif kind == "merge":
                    _, _, m0, m1, merged, n_seg = chk
                    if merged != 1:
                        why = f"{merged} merges, expected 1"
                elif kind == "reopen":
                    _, _, spec, hits, live = chk
                    match = twin.match(_terms_of(spec)) & live
                    ids = [d for d, _ in hits]
                    if len(ids) != min(K, len(match)) or not set(ids) <= match:
                        why = f"{len(ids)} hits not within {len(match)} live matches"
                if why:
                    self.log.fail(op, why)
        finally:
            twin.close()

    # ---------------------------------------------------------- trace hooks

    def _install_wrappers(self) -> None:
        """Spans around library calls the benchmark cannot reach
        directly (traced run only; undone at exit)."""
        from lucene_spark.index import builder, manifest
        from lucene_spark.index.bloom import BloomSidecar
        from lucene_spark.search import query as Q
        from lucene_spark.search.executor import IndexReader, IndexSearcher
        from lucene_spark.streaming import nrt

        tr = self.tracer
        # the session's own DataFrame class (pyspark.sql.classic in 4.x)
        DataFrame = type(self.spark.range(1))

        def rows(rec, _args, result):
            rec["rows"] = len(result)

        def admitted(rec, _args, result):
            rec["admitted"] = None if result is None else len(result)

        def term_cache(reader):
            if hasattr(reader, "_tc"):
                return orig_tc(reader)
            with tr.span("reader.term_cache_load") as rec:
                out = orig_tc(reader)
                if rec is not None:
                    rec["rows"] = len(out) if out is not None else 0
                return out

        orig_tc = IndexReader._term_cache
        IndexReader._term_cache = term_cache
        self.undo.append(lambda: setattr(IndexReader, "_term_cache", orig_tc))
        self.undo += [
            wrap(tr, Q, "rewrite_fixpoint", "query.rewrite", skip_nested=True),
            wrap(tr, IndexSearcher, "_compile", "executor.compile", skip_nested=True),
            wrap(tr, IndexReader, "term_stats", "reader.term_stats"),
            wrap(tr, BloomSidecar, "segments_maybe_containing", "bloom.gate",
                 record=admitted),
            wrap(tr, DataFrame, "toPandas", "spark.collect", record=rows),
            wrap(tr, DataFrame, "collect", "spark.collect", record=rows),
            wrap(tr, manifest, "commit_manifest", "manifest.commit"),
            wrap(tr, builder, "_recompute_stats", "stats.recompute"),
            wrap(tr, nrt, "_recompute_stats", "stats.recompute"),
        ]

    # --------------------------------------------------------------- probes

    def _probes(self) -> dict:
        """Layer probes that add no operation to the measured loop:
        run in the same session, traced run only, outside any op."""
        from lucene_spark.analysis import get_analyzer
        from lucene_spark.index import manifest as mani
        from lucene_spark.index.formats import get_postings_format
        from lucene_spark.index.segment import build_segment
        from lucene_spark.search import executor as ex

        out = {}
        floor = []
        for _ in range(5):
            t0 = time.perf_counter()
            self.spark.range(1).mapInPandas(lambda it: it, "id long").collect()
            floor.append(time.perf_counter() - t0)
        out["spark.floor_ms"] = median(floor) * 1000

        m = mani.read_manifest(self.idx)
        fmt_name = m.get("postings_format") or "for104"
        fmt = get_postings_format(fmt_name)
        specs = [s for (k, s) in self.results if k == "search"]
        nodes = {}
        for spec in specs:
            node = self.searcher._compile(self.Q.rewrite_fixpoint(_query(self.Q, self.field, spec)))
            if node is not None:
                nodes[spec] = node
        terms = sorted({t for n in nodes.values() for t in ex._collect_terms(n)})
        post = _read_table(
            f"{self.idx}/postings",
            filt=(ds.field("field") == self.field) & ds.field("term").isin(terms),
        ).to_pandas()
        self.useful_rows = {
            spec: int(post["term"].isin(ex._collect_terms(n)).sum())
            for spec, n in nodes.items()
        }
        blobs = [bytes(b) for b in post["postings"]]
        t0 = time.perf_counter()
        for b in blobs:
            fmt.decode(b)
        dt = time.perf_counter() - t0
        out["codec.decode_mb_per_s"] = sum(map(len, blobs)) / 1e6 / dt
        kernel = []
        for spec, node in nodes.items():
            mine = post[post["term"].isin(ex._collect_terms(node))]
            t0 = time.perf_counter()
            for _sid, pdf in mine.groupby("segment_id"):
                ex._segment_topk(node, K, True, None, pdf.reset_index(drop=True), None, fmt_name)
            kernel.append(time.perf_counter() - t0)
        out["executor.kernel_ms"] = median(kernel) * 1000

        an = get_analyzer("simple")
        texts = self.base_docs["text"].head(self.size["per_segment"])
        t0 = time.perf_counter()
        toks = an.tokenize(texts)
        dt = time.perf_counter() - t0
        out["analysis.tokens_per_s"] = sum(map(len, toks)) / dt
        ids = np.sort(self.base_docs["doc_id"].head(len(texts)).to_numpy())
        t0 = time.perf_counter()
        build_segment("probe", ids, texts.reset_index(drop=True), an, self.field,
                      postings_format=fmt_name)
        out["segment.invert_docs_per_s"] = len(texts) / (time.perf_counter() - t0)
        return out

    # ------------------------------------------------------------------ run

    def execute(self) -> dict:
        self.record.update({
            "workload": self.name, "seed": self.seed, "seconds": self.seconds,
            "trace": int(self.traced), "nproc": os.cpu_count(),
            "master": f"local[{self.cores}]",
            "loadavg_1m_before": os.getloadavg()[0],
            "python": platform.python_version(), "sizes": self.size,
        })
        with RssSampler() as rss:
            t0 = time.perf_counter()
            with self.tracer.span("session.start"):
                self.spark = start_session(self.cores, self.work)
            self.session_s = time.perf_counter() - t0
            try:
                self.spark.sparkContext.setLogLevel("ERROR")
                import pyspark

                self.record.update(spark=pyspark.__version__, pyarrow=pa.__version__)
                self.jobs = SparkJobs(self.spark) if self.traced else None
                if self.traced:
                    self._install_wrappers()
                phases = self.record["phase_s"] = {}
                tp = time.perf_counter()

                def phase(name):
                    nonlocal tp
                    now = time.perf_counter()
                    phases[name] = now - tp
                    tp = now

                self._setup()
                self._measure_index()
                phase("setup")
                self._read_phase()
                phase("read")
                probes = {}
                if self.traced:
                    self.tracer.enabled = False
                    probes = self._probes()
                    self.tracer.enabled = True
                    phase("probes")
                self._write_phase()
                phase("write")
                self._check()
                phase("check")
            finally:
                for undo in reversed(self.undo):
                    undo()
                tp = time.perf_counter()
                stop_session(self.spark)
                self.record["phase_s"]["stop"] = time.perf_counter() - tp
        self.peak_rss = rss.peak
        self.record["loadavg_1m_after"] = os.getloadavg()[0]
        if self.traced:
            self.layer = self._layer_metrics(probes)
        return self._metrics()

    def _measure_index(self) -> None:
        from lucene_spark.index import manifest as mani

        m = mani.read_manifest(self.idx)
        live = mani.live_segment_ids(m)
        segs = [s for b in m["batches"] for s in b["segments"]
                if live is None or s["segment_id"] in live]
        self.text_bytes = int(sum(len(t.encode()) for t in self.base_docs["text"]))
        self.index_bytes = _dir_bytes(self.idx)
        self.record.update({
            "corpus_docs": len(self.base_docs), "corpus_text_bytes": self.text_bytes,
            "index_bytes": self.index_bytes, "index_table_bytes": _table_bytes(self.idx),
            "segments": len(segs), "vectors": self.size["vectors"],
        })

    # -------------------------------------------------------------- metrics

    def _metrics(self) -> dict:
        L = self.log
        untraced = [o for o in L.ops if not o.get("traced")]

        def ms(kind):
            return [o["s"] * 1000 for o in untraced if o["kind"] == kind]

        self.record["failed_frac"] = L.failed_frac()
        self.record["errors"] = [
            {"kind": o["kind"], "key": repr(o["key"]), "error": o["error"]}
            for o in L.errors()][:20]
        result = {"correct": L.failed == 0, "attempted": L.attempted, "failed": L.failed}
        if self.traced:
            result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in self.layer.items()}
            return result
        search = ms("search")
        p, tail_ms = tail(search)
        self.record["search_tail"] = {"percentile": p, "samples": len(search),
                                      "ms": tail_ms}
        self.record["ops_ms"] = [
            [o["kind"], o["key"][1][0] if o["kind"] == "search" else None, round(o["s"] * 1000, 1)]
            for o in untraced]
        self.record["samples"] = {k: len(ms(k)) for k in
                                  ("search", "sql64", "count", "hnsw", "pq",
                                   "append", "delete", "reopen", "merge")}
        recalls = [self._recall(kind, spec, rows)
                   for (kind, spec), (_op, rows) in self.results.items() if kind == "hnsw"]
        values = {
            "setup_s": self.setup_s,
            "search_p50_ms": median(search),
            "sql64_p50_ms": median(ms("sql64")),
            "hnsw_p50_ms": median(ms("hnsw")),
            "ingest_cycle_s": sum(ms("append") + ms("delete") + ms("reopen")) / 1000,
            "index_bytes_per_doc_byte": self.index_bytes / self.text_bytes,
            "peak_rss_mb": self.peak_rss / 2**20,
            "recall_at_10": float(np.mean(recalls)) if recalls else 0.0,
        }
        result["metrics"] = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        return result

    def _layer_metrics(self, probes: dict) -> dict:
        spans = self.tracer.spans
        by_op: dict[int, list[dict]] = {}
        for s in spans:
            if s["op"] is not None:
                by_op.setdefault(s["op"], []).append(s)

        def ops(*kinds):
            return [x for x in self.op_stats if x["op"]["kind"] in kinds]

        def mean(xs):
            xs = list(xs)
            return float(np.mean(xs)) if xs else 0.0

        def child_ms(x, name):
            return sum((s["end"] - s["start"]) * 1000 for s in by_op.get(x["op"]["id"], [])
                       if s["name"] == name)

        def spans_named(name):
            return [s for s in spans if s["name"] == name]

        searches = ops("search")
        dur = lambda x: x["op"]["s"] * 1000  # noqa: E731
        selfs = self_times(spans)
        search_spans = [x["span"] for x in searches]
        gates = [s for s in spans_named("bloom.gate") if s["op"] in
                 {x["op"]["id"] for x in searches}]
        n_segs = self.record["segments"]
        tc = spans_named("reader.term_cache_load")
        scanned = sum(x["spark"]["input_rows"] for x in searches)
        useful = sum(self.useful_rows.get(x["op"]["key"][1], 0) for x in searches)
        app, dele, mer = ops("append"), ops("delete"), ops("merge")
        merge_chk = next(c for c in self.write_checks if c[0] == "merge")
        m0, m1 = merge_chk[2], merge_chk[3]
        b = self.jobs_build
        out = {
            "session.start_s": (self.session_s, "s"),
            "spark.floor_ms": (probes["spark.floor_ms"], "ms"),
            "spark.jobs_per_op": (mean(x["spark"]["jobs"] for x in searches), "count"),
            "spark.tasks_per_op": (mean(x["spark"]["tasks"] for x in searches), "count"),
            "spark.job_ms_per_op": (mean(x["spark"]["job_ms"] for x in searches), "ms"),
            "driver.self_ms_per_op": (mean(dur(x) - x["spark"]["job_ms"] for x in searches), "ms"),
            "query.rewrite_ms": (mean(child_ms(x, "query.rewrite") for x in searches), "ms"),
            "reader.open_ms": (median(self.opens) * 1000, "ms"),
            "reader.reopen_ms": (mean(dur(x) for x in ops("reopen")), "ms"),
            "reader.term_cache_load_ms": (median([(s["end"] - s["start"]) * 1000 for s in tc]) if tc else 0.0, "ms"),
            "reader.term_cache_rows": (tc[-1].get("rows", 0) if tc else 0, "count"),
            "reader.term_stats_ms": (mean(child_ms(x, "reader.term_stats") for x in searches), "ms"),
            "executor.compile_ms": (mean(child_ms(x, "executor.compile") for x in searches), "ms"),
            "executor.scan_bytes_per_search": (mean(x["spark"]["input_bytes"] for x in searches), "B"),
            "executor.scan_rows_per_search": (mean(x["spark"]["input_rows"] for x in searches), "count"),
            "executor.useful_rows_frac": (useful / scanned if scanned else 0.0, "ratio"),
            "executor.shuffle_bytes_per_search": (mean(x["spark"]["shuffle_write_bytes"] for x in searches), "B"),
            "executor.task_run_ms_per_search": (mean(x["spark"]["run_ms"] for x in searches), "ms"),
            "executor.task_cpu_ms_per_search": (mean(x["spark"]["cpu_ms"] for x in searches), "ms"),
            "executor.driver_rows_per_search": (mean(
                sum(s.get("rows", 0) for s in by_op.get(x["op"]["id"], []) if s["name"] == "spark.collect")
                for x in searches), "count"),
            "executor.kernel_ms": (probes["executor.kernel_ms"], "ms"),
            "search.self_ms": (mean(selfs[s["id"]] * 1000 for s in search_spans), "ms"),
            "codec.decode_mb_per_s": (probes["codec.decode_mb_per_s"], "MB/s"),
            "codec.postings_bytes_per_doc": (self.record["index_table_bytes"]["postings"] / self.size["docs"], "B"),
            "bloom.gate_ms": (mean(child_ms(x, "bloom.gate") for x in searches), "ms"),
            "bloom.admit_frac": (mean((g["admitted"] if g.get("admitted") is not None else n_segs) / n_segs
                                      for g in gates), "ratio"),
            "sqlpath.jobs_per_query": (mean(x["spark"]["jobs"] for x in ops("sql64")), "count"),
            "sqlpath.task_run_ms_per_query": (mean(x["spark"]["run_ms"] for x in ops("sql64")), "ms"),
            "sqlpath.shuffle_bytes_per_query": (mean(x["spark"]["shuffle_write_bytes"] for x in ops("sql64")), "B"),
            "count.jobs_per_count": (mean(x["spark"]["jobs"] for x in ops("count")), "count"),
            "count.task_run_ms": (mean(x["spark"]["run_ms"] for x in ops("count")), "ms"),
            "analysis.tokens_per_s": (probes["analysis.tokens_per_s"], "1/s"),
            "segment.invert_docs_per_s": (probes["segment.invert_docs_per_s"], "docs/s"),
            "builder.docs_per_s": (self.size["docs"] / self.build_s, "docs/s"),
            "builder.jobs": (b["jobs"], "count"),
            "builder.task_run_ms": (b["run_ms"], "ms"),
            "builder.shuffle_write_bytes": (b["shuffle_write_bytes"], "B"),
            "builder.output_bytes": (b["output_bytes"], "B"),
            "builder.write_amp": (b["output_bytes"] / self.index_bytes, "ratio"),
            "manifest.commit_ms": (mean((s["end"] - s["start"]) * 1000 for s in spans_named("manifest.commit")), "ms"),
            "stats.recompute_ms": (mean((s["end"] - s["start"]) * 1000 for s in spans_named("stats.recompute")), "ms"),
            "nrt.append_ms": (mean(dur(x) for x in app), "ms"),
            "nrt.append_jobs": (mean(x["spark"]["jobs"] for x in app), "count"),
            "nrt.append_task_run_ms": (mean(x["spark"]["run_ms"] for x in app), "ms"),
            "deletes.delete_ms": (mean(dur(x) for x in dele), "ms"),
            "deletes.jobs_per_delete": (mean(x["spark"]["jobs"] for x in dele), "count"),
            "deletes.tombstone_rows": (self.tombstone_rows, "count"),
            "merge.round_s": (mean(dur(x) / 1000 for x in mer), "s"),
            "merge.task_run_ms": (mean(x["spark"]["run_ms"] for x in mer), "ms"),
            "merge.bytes_rewritten": (mean(x["spark"]["output_bytes"] for x in mer), "B"),
            "merge.docs_merged": (self.merge_docs, "count"),
            "merge.docs_purged": (int(m1.get("purged_docs", 0) or 0) - int(m0.get("purged_docs", 0) or 0), "count"),
            "merge.segments_before": (self._live_segments(m0), "count"),
            "merge.segments_after": (self._live_segments(m1), "count"),
            "graphann.query_ms": (median([dur(x) for x in ops("hnsw")]), "ms"),
            "pq.query_ms": (median([dur(x) for x in ops("pq")]), "ms"),
            "graphann.scan_bytes_per_query": (mean(x["spark"]["input_bytes"] for x in ops("hnsw")), "B"),
            "pq.scan_bytes_per_query": (mean(x["spark"]["input_bytes"] for x in ops("pq")), "B"),
            "graphann.write_s": (self.ann_write_s, "s"),
            "pq.write_s": (self.pq_write_s, "s"),
            "pq.recall_at_10": (mean(self._recall(k, s, r) for (k, s), (_o, r) in self.results.items()
                                     if k == "pq"), "ratio"),
            "trace.overhead_ms": (median([t - u for t, u in self._trace_pairs()]), "ms"),
        }
        self.record["search_breakdown"] = breakdown(spans, "search")
        self.record["layer_self_ms"] = layer_self_ms(spans)
        return {k: (float(v), u) for k, (v, u) in out.items()}

    def _trace_pairs(self) -> list[tuple[float, float]]:
        """(traced ms, untraced ms) of each search run twice in a row."""
        ops, out, i = self.log.ops, [], 0
        while i + 1 < len(ops):
            a, b = ops[i], ops[i + 1]
            if a["kind"] == b["kind"] == "search" and a["key"] == b["key"] \
                    and a["traced"] != b["traced"]:
                t, u = (a, b) if a["traced"] else (b, a)
                out.append((t["s"] * 1000, u["s"] * 1000))
                i += 2
            else:
                i += 1
        return out

    def _recall(self, _kind, spec, rows) -> float:
        exact = set(inputs.exact_topk(self.vecs, spec[0], K))
        return len(exact & {v for v, _ in rows}) / K

    @staticmethod
    def _live_segments(m: dict) -> int:
        from lucene_spark.index import manifest as mani

        live = mani.live_segment_ids(m)
        if live is not None:
            return len(live)
        return sum(len(b["segments"]) for b in m["batches"])
