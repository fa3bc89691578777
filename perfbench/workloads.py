"""The two workloads: inputs from the seed, program set-up, one timed
cycle, the one-off operations after the timed cycles, and the output
checks that run after the timed region.

Each workload is a closed loop with one caller: the next operation starts
when the previous one has returned. ``Recorder.op`` times one operation
and turns an exception into a failed operation named after what failed.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

import numpy as np

import datagen

#: The slice of ``bench.py``'s 51 headline names this benchmark times.
#: The full 51-query pass takes about a minute warm on a 4-vCPU host even
#: at sf0.001, which does not fit one benchmark run; these four cover the
#: layers the headline exercises: connected components with eager
#: checkpoints and LSH dedup (q_dedup_clusters), the planner's kNN cost
#: gate on its IVF branch (q_knn_auto), the bucketed exact rank
#: (q_quality_percentiles) and a plain scan-aggregate (q_pricing_summary).
#: Owned here, so an engine edit cannot change the workload.
HEADLINE_QUERIES = (
    "q_dedup_clusters",
    "q_knn_auto",
    "q_quality_percentiles",
    "q_pricing_summary",
)
#: the headline tables do not depend on the run's seed
HEADLINE_DATA_SEED = 20240101
#: q_knn_auto's corpus is every embedding with vec_id >= 10; 1200 rows put
#: it above the query's 1024-row gate, so it takes the IVF branch
HEADLINE_EMBEDDINGS = 1200

#: ETL corpus and churn shape. Every ETL operation costs a fixed number of
#: Spark jobs, so corpus size moves little; 200 bootstrap documents keep
#: set-up and the folder rescans short. Each cycle lands new documents
#: drawn from the seed, so any number of cycles has a plan.
CHURN_DOCS = 200
REJECTS = 4
NEW_PER_CYCLE = 10
CHANGED_PER_CYCLE = 20
DELETED_PER_CYCLE = 5
#: the churned index holds ~450 chunks, below ``search``'s 2048-row gate,
#: so every seed takes its exact branch (headline's q_knn_auto takes IVF)
CHUNK_SIZE = 200
CHUNK_OVERLAP = 40
#: the IVF copy built after churn: cells and k-means iterations
ANN_CELLS = 8
ANN_ITERS = 1
#: the query batch searched after churn
QUERIES = 8
TOP_K = 5


class Recorder:
    """Per-kind latency samples and failures of one run."""

    def __init__(self, tracer=None):
        self.samples: dict[str, list[float]] = {}
        self.cycles: list[float] = []
        self.attempted = 0
        self.failures: list[str] = []
        self.tracer = tracer

    def op(self, kind: str, fn, label: str | None = None):
        """Run ``fn()`` as one timed operation of ``kind``; returns its
        result, or None when it raised (the failure is recorded by
        ``label``)."""
        self.attempted += 1
        span = self.tracer.span("bench", kind) if self.tracer else contextlib.nullcontext()
        t0 = time.perf_counter()
        try:
            with span:
                out = fn()
        except Exception as exc:  # a failed op is counted, not fatal
            self.failures.append(f"{label or kind}: {type(exc).__name__}: {str(exc)[:200]}")
            return None
        self.samples.setdefault(kind, []).append(time.perf_counter() - t0)
        return out

    def check(self, ok: bool, what: str) -> None:
        """One output check: attempted, and failed unless ``ok``."""
        self.attempted += 1
        if not ok:
            self.failures.append(what)


def _spark_docs(spark, docs: dict[str, str]):
    return spark.createDataFrame(sorted(docs.items()), "filename string, text string")


def _median(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# -- headline -----------------------------------------------------------------


class Headline:
    """A fixed slice of the registry's headline queries, each materialized
    with the noop sink. Set-up collects every query once: that pass warms
    the JVM and its results are what the DuckDB oracle check compares."""

    #: every run times exactly this many passes (they are longer than any
    #: ``--seconds`` the benchmark is run with)
    min_cycles = 2

    def __init__(self, work: str, seed: int):
        self.sf_dir = os.path.join(work, "tables")
        self.collected: dict = {}
        self.splits: list[dict] = []

    def inputs(self) -> None:
        datagen.write_tables(self.sf_dir, HEADLINE_DATA_SEED, n_emb=HEADLINE_EMBEDDINGS)

    def prepare(self, spark, rec: Recorder) -> None:
        from data_etl_spark.cache import release_tracked
        from data_etl_spark.plans import REGISTRY

        for name in HEADLINE_QUERIES:
            try:
                self.collected[name] = REGISTRY[name].fn(spark, self.sf_dir).toPandas()
            except Exception as exc:  # counted as a failed check, named
                rec.check(False, f"{name}: warm-up {type(exc).__name__}: {str(exc)[:200]}")
            release_tracked()

    def cycle(self, spark, rec: Recorder) -> None:
        from data_etl_spark.cache import release_tracked
        from data_etl_spark.plans import REGISTRY

        for name in HEADLINE_QUERIES:
            fn = REGISTRY[name].fn
            if rec.tracer is None:
                rec.op(name, lambda: _noop(fn(spark, self.sf_dir)))
            else:
                rec.op(name, lambda: self._traced_query(spark, rec.tracer, name, fn))
            # isolation: no query is timed on a cache an earlier one filled
            release_tracked()

    def _traced_query(self, spark, tracer, name, fn) -> None:
        """Build and exec as two spans. The exec span's Catalyst time comes
        from the noop write's own QueryExecution (the tracer's listener),
        its job time from the status store, so ``layers`` can compare
        build + Catalyst + jobs against the query's wall time."""
        tracer.drain()
        e0 = len(tracer.queries)
        t0 = time.perf_counter()
        with tracer.span("plans", name) as build:
            df = fn(spark, self.sf_dir)
        tracer.drain()
        e1 = len(tracer.queries)
        t1 = time.perf_counter()
        with tracer.span("spark", "exec") as ex:
            _noop(df)
        t2 = time.perf_counter()
        tracer.drain()
        self.splits.append({
            "query": name,
            "exec_sid": ex.sid,
            "build_s": build.end - build.start,
            "exec_catalyst_s": sum(q["catalyst_s"] for q in tracer.queries[e1:]),
            "build_catalyst_s": sum(q["catalyst_s"] for q in tracer.queries[e0:e1]),
            # build and exec, without the listener drain between them
            "wall_s": (build.end - t0) + (t2 - t1),
        })

    def check(self, spark, rec: Recorder) -> None:
        import duckdb

        from driver_sim import frames_equal
        from data_etl_spark.plans import REGISTRY
        from data_etl_spark.sources.tables import TABLE_NAMES

        con = duckdb.connect()
        try:
            for t in TABLE_NAMES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for name in HEADLINE_QUERIES:
                if name not in self.collected:
                    continue
                oracle = REGISTRY[name].oracle
                err = "no oracle to check against" if oracle is None else frames_equal(
                    self.collected[name], con.sql(oracle).df()
                )
                rec.check(err is None, f"{name}: differs from its DuckDB oracle: {err}")
        finally:
            con.close()

    def op_p50(self, rec: Recorder) -> float:
        """The median of the per-query medians: the queries differ in cost,
        so pooling their samples would make the median jump between the
        two middle queries."""
        return _median([_median(rec.samples.get(q, [])) for q in HEADLINE_QUERIES])

    def detail(self, rec: Recorder) -> dict:
        return {}


# -- ETL ----------------------------------------------------------------------


class EtlChurn:
    """The document ETL under churn, on a fresh index per run.

    Set-up: bootstrap ``process_folder`` over the corpus plus files the
    pipeline must drop. Each timed cycle: land new files and
    ``process_folder(force=False)``, ``ingest(force=True)`` of changed
    documents, ``delete_documents``. After the timed cycles, once each on
    the churned index: ``search`` and ``hybrid_search`` over a seed-chosen
    query batch, ``compact``, ``build_ann_index`` and ``ann_search``."""

    #: every run times exactly this many cycles (they are longer than any
    #: ``--seconds`` the benchmark is run with)
    min_cycles = 2

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.input_dir = os.path.join(work, "input")
        self.index_path = os.path.join(work, "index", "idx")
        self.model: dict[str, str] = {}
        self.pipe = None
        self.results: dict[str, list] = {}

    def inputs(self) -> None:
        self.model = datagen.etl_corpus(self.seed, CHURN_DOCS)
        datagen.write_files(self.input_dir, self.model)
        datagen.write_rejects(self.input_dir, "boot", REJECTS)
        rng = np.random.default_rng([self.seed, 2])
        self.queries = [" ".join(rng.choice(datagen.VOCAB, int(rng.integers(3, 7)))) for _ in range(QUERIES)]
        self.cycles_done = 0

    def plan(self, c: int, live: list[str]) -> tuple[dict, dict, list]:
        """Cycle ``c``'s new documents, changed documents (with new text)
        and deletions, from the seed and the documents live before it."""
        rng = np.random.default_rng([self.seed, 1, c])
        texts = datagen.documents(rng, NEW_PER_CYCLE, hi=datagen.ETL_MAX_WORDS)
        new = {f"new_{c:04d}_{i:02d}.{'md' if i % 3 == 0 else 'txt'}": t for i, t in enumerate(texts)}
        pool = sorted(live) + sorted(new)
        pick = rng.choice(len(pool), CHANGED_PER_CYCLE + DELETED_PER_CYCLE, replace=False)
        changed = [pool[i] for i in pick[:CHANGED_PER_CYCLE]]
        deleted = [pool[i] for i in pick[CHANGED_PER_CYCLE:]]
        texts = datagen.documents(rng, CHANGED_PER_CYCLE, hi=datagen.ETL_MAX_WORDS)
        return new, dict(zip(changed, texts)), deleted

    def config(self):
        from data_etl_spark.etl import ETLConfig

        return ETLConfig(chunk_size=CHUNK_SIZE, chunk_overlap=CHUNK_OVERLAP)

    def prepare(self, spark, rec: Recorder) -> None:
        from data_etl_spark.etl import ETLPipeline

        parent = os.path.dirname(self.index_path)
        if os.path.exists(parent):
            shutil.rmtree(parent)
        os.makedirs(parent)
        self.pipe = ETLPipeline(spark, self.index_path, self.config())
        t0 = time.perf_counter()
        out = self.pipe.process_folder(self.input_dir)
        self.bootstrap_s = time.perf_counter() - t0
        rec.check(
            out["n_documents"] == len(self.model),
            f"bootstrap: {out['n_documents']} documents indexed, "
            f"{len(self.model)} expected (rejects must be dropped)",
        )

    def cycle(self, spark, rec: Recorder) -> None:
        new, changed, deleted = self.plan(self.cycles_done, list(self.model))
        self.cycles_done += 1
        pipe = self.pipe
        datagen.write_files(self.input_dir, new)
        self.model.update(new)
        out = rec.op("incremental_ingest", lambda: pipe.process_folder(self.input_dir, force=False))
        if out is not None:
            rec.check(
                out["n_documents"] == len(self.model),
                f"incremental_ingest: {out['n_documents']} documents, {len(self.model)} expected",
            )
        datagen.write_files(self.input_dir, changed)
        self.model.update(changed)
        batch = _spark_docs(spark, changed)
        rec.op("upsert", lambda: pipe.ingest(batch, force=True))
        for n in deleted:
            os.remove(os.path.join(self.input_dir, n))
            del self.model[n]
        rec.op("delete", lambda: pipe.delete_documents(deleted))

    def finish(self, spark, rec: Recorder) -> None:
        """The read side, once, on the churned layout; then compaction and
        the IVF copy of the compacted index."""
        pipe, qs = self.pipe, self.queries
        self.churned_files = _index_files(self.index_path)[0]
        for kind, call in (
            ("search", lambda: pipe.search(qs, k=TOP_K).collect()),
            ("hybrid_search", lambda: pipe.hybrid_search(qs, k=TOP_K).collect()),
            ("compact", pipe.compact),
            ("build_ann_index", lambda: pipe.build_ann_index(n_cells=ANN_CELLS, kmeans_iter=ANN_ITERS)),
            ("ann_search", lambda: pipe.ann_search(qs, k=TOP_K).collect()),
        ):
            out = rec.op(kind, call)
            if out is not None:
                self.results[kind] = out

    def op_p50(self, rec: Recorder) -> float:
        return _median(rec.samples.get("upsert", []))

    def check(self, spark, rec: Recorder) -> None:
        self.check_index(spark, rec)
        self.check_search(spark, rec)

    def check_index(self, spark, rec: Recorder) -> None:
        """The index equals, order-insensitively, a from-scratch chunking
        of the model's documents; mismatches name the document."""
        from data_etl_spark.etl import ETLPipeline

        ref = ETLPipeline(spark, self.index_path + ".ref", self.config())
        want = _rows_by_doc(ref.chunk_documents(_spark_docs(spark, self.model)).collect())
        got = _rows_by_doc(self.pipe.index_table().collect())
        for f in sorted(set(want) | set(got)):
            rec.check(want.get(f) == got.get(f), f"{f}: index rows differ from a from-scratch ingest")

    def check_search(self, spark, rec: Recorder) -> None:
        """Every ``search`` / ``ann_search`` score equals a numpy cosine
        over the final index (compaction keeps its rows); recall@k is
        against numpy exact top-k. ``hybrid_search`` returns k rows per
        query."""
        from pyspark.sql import functions as F

        from data_etl_spark.etl import fake_embedding

        idx = self.pipe.index_table().select("filename", "chunk_idx", "embedding").collect()
        pos = {f"{r['filename']}#{r['chunk_idx']}": i for i, r in enumerate(idx)}
        mat = np.array([r["embedding"] for r in idx], dtype=np.float64)
        mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        qdf = spark.createDataFrame(list(enumerate(self.queries)), "i long, q string")
        exact = {}
        for r in qdf.select("i", fake_embedding(F.col("q")).alias("e")).collect():
            v = np.array(r["e"], dtype=np.float64)
            exact[r["i"]] = mat_n @ (v / np.linalg.norm(v))
        self.recall: dict[str, list[float]] = {"search": [], "ann_search": []}
        for kind in ("search", "ann_search"):
            rows = self.results.get(kind)
            if rows is None:
                continue
            for i, sims in exact.items():
                got = [r for r in rows if r["q_vec_id"] == i]
                kth = np.sort(sims)[-TOP_K]
                hits, bad = 0, []
                for r in got:
                    j = pos.get(r["c_vec_id"])
                    if j is None:
                        bad.append(f"{r['c_vec_id']} is not in the index")
                    elif not np.isclose(r["score"], sims[j], rtol=1e-9, atol=1e-12):
                        bad.append(f"score {r['score']!r} for {r['c_vec_id']} vs numpy cosine {sims[j]!r}")
                    else:
                        hits += sims[j] >= kth - 1e-12
                if len(got) != TOP_K:
                    bad.append(f"{len(got)} results, {TOP_K} expected")
                rec.check(not bad, f"{kind} query {i}: {'; '.join(bad)}")
                self.recall[kind].append(hits / TOP_K)
        rows = self.results.get("hybrid_search")
        if rows is not None:
            for i in range(len(self.queries)):
                n = sum(1 for r in rows if r["q_vec_id"] == i)
                rec.check(n == TOP_K, f"hybrid_search query {i}: {n} results, {TOP_K} expected")

    def detail(self, rec: Recorder) -> dict:
        """``index_files`` is the churned layout ``search`` read;
        ``index_bytes_per_user_byte`` is the end state, after compaction."""
        size = _index_files(self.index_path)[1]
        user = sum(len(t.encode("utf-8")) for t in self.model.values())
        recall = getattr(self, "recall", {})
        return {
            "ingest_docs_per_s": CHURN_DOCS / self.bootstrap_s,
            "index_files": getattr(self, "churned_files", 0),
            "index_bytes_per_user_byte": size / user,
            **{f"{k}_recall": float(np.mean(recall[kind])) for k, kind in (("search", "search"), ("ann", "ann_search")) if recall.get(kind)},
        }


def _index_files(path: str) -> tuple[int, int]:
    """Parquet files under an index and their bytes."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _rows_by_doc(rows) -> dict[str, list]:
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r["filename"], []).append(
            (r["chunk_idx"], r["chunk_text"], int(r["n_tokens"]), tuple(r["embedding"]))
        )
    return {k: sorted(v) for k, v in out.items()}


WORKLOADS = {"headline": Headline, "etl_churn": EtlChurn}
