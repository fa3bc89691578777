"""End-to-end tests for the ETLPipeline orchestrator (E1/E2/E3 parity):
ingest -> idempotent re-ingest -> incremental skip -> upsert -> delete ->
search, against a tmp Parquet index table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_etl_spark.etl import ETLConfig, ETLPipeline


@pytest.fixture()
def docs(spark):
    rows = [
        (f"doc_{i}.{ext}", f"word{i} " * (40 + i * 7))
        for i, ext in enumerate(["pdf", "txt", "md", "exe", "pdf", "md"])
    ]
    return spark.createDataFrame(rows, "filename string, text string")


@pytest.fixture()
def pipe(spark, tmp_path):
    cfg = ETLConfig(chunk_size=100, chunk_overlap=20, n_buckets=4)
    return ETLPipeline(spark, str(tmp_path / "index"), cfg)


def test_ingest_gates_extensions_and_chunks(pipe, docs):
    stats = pipe.ingest(docs)
    # doc_3.exe is gated out (F1 whitelist)
    assert stats["n_documents"] == 5
    idx = pipe.index_table()
    names = {r.filename for r in idx.select("filename").distinct().collect()}
    assert "doc_3.exe" not in names and len(names) == 5
    # chunk identity: contiguous 0-based chunk_idx per doc (W2)
    per = idx.groupBy("filename").agg(
        F.min("chunk_idx").alias("lo"), F.max("chunk_idx").alias("hi"), F.count("*").alias("n")
    )
    for r in per.collect():
        assert r.lo == 0 and r.n == r.hi + 1
    # embeddings present and fixed-dim
    dims = idx.select(F.size("embedding").alias("d")).distinct().collect()
    assert [d.d for d in dims] == [8]


def test_reingest_is_idempotent(pipe, docs):
    first = pipe.ingest(docs)
    second = pipe.ingest(docs)  # delete-then-add J6: same result
    assert first == second


def test_incremental_skip_and_upsert(pipe, docs, spark):
    pipe.ingest(docs)
    before = pipe.index_table().filter(F.col("filename") == "doc_0.pdf").count()

    # force=False skips already-indexed documents entirely (N1)
    longer = spark.createDataFrame(
        [("doc_0.pdf", "completely new text " * 100)], "filename string, text string"
    )
    pipe.ingest(longer, force=False)
    assert pipe.index_table().filter(F.col("filename") == "doc_0.pdf").count() == before

    # force=True replaces the document's chunks (upsert J5/J6)
    pipe.ingest(longer, force=True)
    after = pipe.index_table().filter(F.col("filename") == "doc_0.pdf")
    assert after.count() > before
    txt = after.filter(F.col("chunk_idx") == 0).collect()[0].chunk_text
    assert txt.startswith("completely new text")


def test_delete_documents(pipe, docs):
    pipe.ingest(docs)
    pipe.delete_documents(["doc_0.pdf", "doc_2.md"])
    names = {r.filename for r in pipe.index_table().select("filename").distinct().collect()}
    assert names == {"doc_1.txt", "doc_4.pdf", "doc_5.md"}


def _bucket_files(index_path):
    """{bucket-dir/file: (mtime, inode)} for every live bucket data file."""
    import os

    snap = {}
    for d in os.listdir(index_path):
        if d.startswith("bucket="):
            full = os.path.join(index_path, d)
            for f in os.listdir(full):
                st = os.stat(os.path.join(full, f))
                snap[f"{d}/{f}"] = (st.st_mtime_ns, st.st_ino)
    return snap


def test_upsert_rewrites_only_affected_buckets(pipe, docs, spark):
    import zlib

    pipe.ingest(docs)
    before = _bucket_files(pipe.index_path)
    target = "doc_0.pdf"
    b = zlib.crc32(target.encode()) % pipe.config.n_buckets
    assert any(not k.startswith(f"bucket={b}/") for k in before), "fixture needs >1 bucket"

    upd = spark.createDataFrame([(target, "fresh text " * 50)], "filename string, text string")
    pipe.ingest(upd, force=True)
    after = _bucket_files(pipe.index_path)

    # every file outside the target's bucket is bit-identical on disk:
    # same path, same mtime, same inode (never rewritten, never moved)
    for k, v in before.items():
        if not k.startswith(f"bucket={b}/"):
            assert after[k] == v, k
    # the target's bucket WAS rewritten (fresh files)
    tb_before = {(k, v) for k, v in before.items() if k.startswith(f"bucket={b}/")}
    tb_after = {(k, v) for k, v in after.items() if k.startswith(f"bucket={b}/")}
    assert tb_before and tb_after and tb_before != tb_after
    # and the upsert took effect
    txt = (
        pipe.index_table()
        .filter((F.col("filename") == target) & (F.col("chunk_idx") == 0))
        .collect()[0]
        .chunk_text
    )
    assert txt.startswith("fresh text")


def test_delete_rewrites_only_affected_buckets(pipe, docs):
    import zlib

    pipe.ingest(docs)
    before = _bucket_files(pipe.index_path)
    target = "doc_1.txt"
    b = zlib.crc32(target.encode()) % pipe.config.n_buckets

    pipe.delete_documents([target])
    after = _bucket_files(pipe.index_path)
    for k, v in before.items():
        if not k.startswith(f"bucket={b}/"):
            assert after[k] == v, k
    names = {r.filename for r in pipe.index_table().select("filename").distinct().collect()}
    assert target not in names


def test_metadata_and_search(pipe, docs):
    pipe.ingest(docs)
    meta = pipe.documents_metadata().collect()
    assert all(m.n_chunks > 0 and m.total_tokens > 0 for m in meta)

    hits = pipe.search(["word0 word0 word0", "word5"], k=3).collect()
    assert len(hits) == 6  # 2 queries x top-3
    by_q = {}
    for h in hits:
        by_q.setdefault(h.q_vec_id, []).append(h)
    for q, hs in by_q.items():
        ranks = sorted(h.rank for h in hs)
        assert ranks == [1, 2, 3]
        scores = [h.score for h in sorted(hs, key=lambda x: x.rank)]
        assert scores == sorted(scores, reverse=True)


def test_empty_index_reads_typed_empty(pipe):
    idx = pipe.index_table()
    assert idx.count() == 0
    assert "embedding" in idx.columns


def test_ingest_stream_incremental(pipe, spark, tmp_path):
    src = tmp_path / "stream_in"
    src.mkdir()
    (src / "a.txt").write_text("streaming alpha " * 30)
    (src / "b.md").write_text("# B\nstreaming beta " * 30)

    pipe.ingest_stream(str(src))
    names = {r.filename for r in pipe.index_table().select("filename").distinct().collect()}
    assert names == {"a.txt", "b.md"}
    a_chunks = pipe.index_table().filter(F.col("filename") == "a.txt").count()

    # add one file; re-drain: only the new file is processed (checkpoint
    # remembers a.txt/b.md), existing chunks unchanged
    (src / "c.txt").write_text("streaming gamma " * 30)
    pipe.ingest_stream(str(src))
    names = {r.filename for r in pipe.index_table().select("filename").distinct().collect()}
    assert names == {"a.txt", "b.md", "c.txt"}
    assert pipe.index_table().filter(F.col("filename") == "a.txt").count() == a_chunks


def test_ann_index_build_and_search(pipe, docs):
    pipe.ingest(docs)
    path = pipe.build_ann_index(n_cells=3, kmeans_iter=2)
    import os
    assert os.path.isdir(path)
    # cell-partitioned layout on disk
    assert any(d.startswith("cell=") for d in os.listdir(path))
    hits = pipe.ann_search(["word1 word1", "word5"], k=2).collect()
    assert 1 <= len(hits) <= 4  # <= 2 queries x top-2 (cells may hold < k)
    for h in hits:
        assert h.score <= 1.000001


def test_save_config_merges_types(pipe):
    c1 = pipe.save_config("qdrant", "jina/jina-embeddings-v2-small-en")
    assert c1["types"] == ["qdrant"] and c1["model"] == "jina_jina-embeddings-v2-small-en"
    c2 = pipe.save_config("faiss", "jina/jina-embeddings-v2-small-en")
    assert c2["types"] == ["faiss", "qdrant"]  # A6 distinct-set merge
    # different model => fresh config, no merge
    c3 = pipe.save_config("qdrant", "other/model")
    assert c3["types"] == ["qdrant"]


def test_compact_restores_one_file_per_bucket(pipe, docs):
    import glob
    import os
    import shutil

    pipe.ingest(docs)
    # simulate small-file accretion: add extra part files to one bucket
    bucket_dirs = glob.glob(os.path.join(pipe.index_path, "bucket=*"))
    assert bucket_dirs
    target = bucket_dirs[0]
    rows = pipe.spark.read.parquet(target)
    rows.repartition(3).write.mode("overwrite").parquet(target + ".tmp")
    for f in os.listdir(target + ".tmp"):
        if f.endswith(".parquet"):
            os.replace(
                os.path.join(target + ".tmp", f), os.path.join(target, "extra_" + f)
            )
    shutil.rmtree(target + ".tmp")
    assert len(glob.glob(os.path.join(target, "*.parquet"))) > 1
    key = lambda d: (d["filename"], d["chunk_idx"], d["chunk_text"])
    before = sorted((r.asDict() for r in pipe.index_table().collect()), key=key)
    pipe.compact()
    after = sorted((r.asDict() for r in pipe.index_table().collect()), key=key)
    # contents unchanged (incl. the duplicate rows we appended)...
    assert after == before
    # ...and every bucket is back to a single data file
    for d in glob.glob(os.path.join(pipe.index_path, "bucket=*")):
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d


def test_hybrid_search_finds_lexical_and_dense_match(pipe, docs):
    pipe.ingest(docs)
    # query with the exact text of one ingested document: both legs
    # (dense fake-embedding cosine and word overlap) should rank its
    # chunk first
    target = docs.limit(1).collect()[0]
    res = pipe.hybrid_search([target.text], k=3).collect()
    assert res, "hybrid search returned no rows"
    assert res[0].rank == 1
    top = res[0].c_vec_id
    assert top.startswith(target.filename + "#")
    # deterministic: same query, same ranking
    res2 = pipe.hybrid_search([target.text], k=3).collect()
    assert [(r.c_vec_id, r.rank) for r in res] == [(r.c_vec_id, r.rank) for r in res2]


def test_cost_gated_search_both_branches(pipe, docs, spark):
    """pipe.search() routes through the auto_knn planner: exact
    (broadcast-NL) below the threshold, IVF cell join above it — and
    the exact branch's top-1 hit for a chunk's own text is that chunk."""
    pipe.ingest(docs)
    res = pipe.search(["word1 word1", "word5"], k=2, threshold=10**6)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan and "cell" not in plan
    hits = res.collect()
    assert len(hits) >= 2 and all(h.score <= 1.000001 for h in hits)
    # force the IVF branch on the same tiny index
    res2 = pipe.search(["word1 word1"], k=2, threshold=1)
    plan2 = res2._jdf.queryExecution().executedPlan().toString()
    assert "cell" in plan2
    assert len(res2.collect()) >= 1


def test_ingest_observes_batch_metrics(pipe, docs):
    pipe.ingest(docs)
    m = pipe.last_ingest_metrics
    # 5 docs survive the extension gate; chunk/char counts ride the
    # write job via DataFrame.observe (no extra scan).
    assert m["chunks_written"] == pipe.index_table().count()
    assert m["docs_in_batch_approx"] >= 4  # approx_count_distinct of 5
    assert m["chars_written"] > 0

    # force=False + nothing new -> no write happens -> metrics empty
    pipe.ingest(docs, force=False)
    assert pipe.last_ingest_metrics == {}


def test_ingest_empty_batch(pipe, docs, spark):
    empty = spark.createDataFrame([], "filename string, text string")
    # empty FIRST ingest: bootstraps a typed empty index, no crash
    stats = pipe.ingest(empty)
    assert stats == {"n_documents": 0, "n_chunks": 0}
    # empty ingest into an EXISTING index: no bucket touched, stats stable
    pipe.ingest(docs)
    before = pipe.ingest(empty)
    assert before["n_documents"] == 5
    assert pipe.last_ingest_metrics == {}  # nothing written, not observed


def test_near_dups_finds_duplicate_chunks(pipe, spark):
    # two docs with identical text -> their chunks are exact near-dups;
    # one unrelated doc contributes no pairs
    rows = [
        ("a.md", "alpha beta gamma delta epsilon zeta eta theta " * 6),
        ("b.md", "alpha beta gamma delta epsilon zeta eta theta " * 6),
        ("c.md", "totally different content with other words here " * 6),
    ]
    pipe.ingest(spark.createDataFrame(rows, "filename string, text string"))
    pairs = pipe.near_dups(tau=0.9).collect()
    assert pairs, "identical docs produced no near-dup chunk pairs"
    assert all(r.strategy == "exact" for r in pairs)  # tiny index -> exact gate
    docs_in_pairs = {r.doc1.split("#")[0] for r in pairs} | {
        r.doc2.split("#")[0] for r in pairs
    }
    assert docs_in_pairs == {"a.md", "b.md"}
    # banded branch on the same data (threshold forced down) only loses
    # pairs, never invents them
    banded = pipe.near_dups(threshold=1, tau=0.9).collect()
    assert {(r.doc1, r.doc2) for r in banded} <= {(r.doc1, r.doc2) for r in pairs}
    assert all(r.strategy == "banded" for r in banded)


def test_rank_chunks_both_branches_match_row_number(pipe, spark):
    # auto_rank at the pipeline API: the window branch (big threshold)
    # and the bucketed branch (threshold forced down) must agree with
    # each other rank-for-rank, and total must equal the chunk count
    rows = [
        ("a.md", "alpha beta gamma delta epsilon zeta eta theta " * 6),
        ("b.md", "one two three " * 2),
        ("c.md", "totally different content with other words here " * 6),
    ]
    pipe.ingest(spark.createDataFrame(rows, "filename string, text string"))
    win = pipe.rank_chunks()
    bkt = pipe.rank_chunks(threshold=1)
    w = {(r.filename, r.chunk_idx): (r.rank, r.total) for r in win.collect()}
    b = {(r.filename, r.chunk_idx): (r.rank, r.total) for r in bkt.collect()}
    assert w == b
    n = pipe.index_table().count()
    assert all(t == n for _, t in w.values())
    assert sorted(rk for rk, _ in w.values()) == list(range(1, n + 1))
    assert win.select("strategy").first().strategy == "window"
    assert bkt.select("strategy").first().strategy == "bucketed"


# -- crash-recovery injection (VERDICT r7, next #4) ---------------------------


def _index_rows(pipe):
    return sorted(
        (r.filename, r.chunk_idx)
        for r in pipe.index_table().select("filename", "chunk_idx").collect()
    )


class _CrashAfter:
    """Make os.replace raise after N successful calls — the crash
    injection point between the commit protocol's rename steps."""

    def __init__(self, monkeypatch, n: int):
        import os as _os

        self.left = n
        self.real = _os.replace
        monkeypatch.setattr("os.replace", self)

    def __call__(self, src, dst):
        if self.left <= 0:
            raise OSError("injected crash")
        self.left -= 1
        return self.real(src, dst)


@pytest.mark.parametrize("crash_at", [0, 1, 2, 3, 5])
def test_swap_buckets_crash_recovers_to_post_state(
    pipe, docs, spark, tmp_path, crash_at, monkeypatch
):
    """Kill _swap_buckets between any two renames: recover() must roll the
    interrupted upsert FORWARD to the post-ingest state (the staging dir
    was complete at the commit point)."""
    pipe.ingest(docs)
    update = spark.createDataFrame(
        [("doc_0.pdf", "entirely new body " * 60), ("doc_9.md", "fresh doc " * 50)],
        "filename string, text string",
    )
    # expected post state, computed on an uninjected twin of the index
    twin = ETLPipeline(
        spark, str(tmp_path / "twin"), ETLConfig(chunk_size=100, chunk_overlap=20, n_buckets=4)
    )
    twin.ingest(docs)
    twin.ingest(update)
    expected = _index_rows(twin)

    crash = _CrashAfter(monkeypatch, crash_at)
    # intent write uses os.replace too (atomic tmp->intent): crash_at=0
    # kills BEFORE the commit point -> recovery must roll BACK instead
    try:
        pipe.ingest(update)
        injected = False
    except OSError:
        injected = True
    monkeypatch.setattr("os.replace", crash.real)

    recovered = pipe.recover()
    got = _index_rows(pipe)
    if injected and crash_at == 0:
        # pre-commit crash: live index untouched, operation rolled back
        pre = ETLPipeline(
            spark, str(tmp_path / "pre"), ETLConfig(chunk_size=100, chunk_overlap=20, n_buckets=4)
        )
        pre.ingest(docs)
        assert got == _index_rows(pre)
        # idempotent re-ingestion (N3) then reaches the post state
        pipe.ingest(update)
        assert _index_rows(pipe) == expected
    else:
        if injected:
            assert recovered == ["swap"]
        assert got == expected
    # scratch space fully reclaimed
    assert not any(
        p.name.endswith((".staging", ".old", ".intent"))
        for p in (tmp_path).iterdir()
    )


@pytest.mark.parametrize("crash_at", [1, 2, 3])
def test_rewrite_crash_recovers(pipe, docs, tmp_path, monkeypatch, spark, crash_at):
    """Kill the compaction _rewrite between any two renames: a readable
    index must survive and recover() must land on the compacted (post)
    state — content-identical to the pre state by compaction's contract."""
    pipe.ingest(docs)
    expected = _index_rows(pipe)

    crash = _CrashAfter(monkeypatch, crash_at)
    try:
        pipe.compact()
        injected = False
    except OSError:
        injected = True
    monkeypatch.setattr("os.replace", crash.real)

    recovered = pipe.recover()
    # whatever the crash point: the index reads back with the same rows
    assert _index_rows(pipe) == expected
    if injected and crash_at >= 1:
        assert recovered in (["rewrite"], [])
    assert not any(
        p.name.endswith((".staging", ".old", ".intent")) for p in tmp_path.iterdir()
    )


def test_pipeline_constructor_auto_heals(pipe, docs, spark, tmp_path, monkeypatch):
    """A NEW pipeline instance on a crash-interrupted index (the restart
    story) heals it in __init__ before the first read."""
    pipe.ingest(docs)
    update = spark.createDataFrame(
        [("doc_0.pdf", "post-crash body " * 50)], "filename string, text string"
    )
    twin = ETLPipeline(
        spark, str(tmp_path / "twin2"), ETLConfig(chunk_size=100, chunk_overlap=20, n_buckets=4)
    )
    twin.ingest(docs)
    twin.ingest(update)
    expected = _index_rows(twin)

    crash = _CrashAfter(monkeypatch, 2)  # dies mid-bucket-swap, post-commit
    with pytest.raises(OSError):
        pipe.ingest(update)
    monkeypatch.setattr("os.replace", crash.real)

    fresh = ETLPipeline(
        spark, pipe.index_path, ETLConfig(chunk_size=100, chunk_overlap=20, n_buckets=4)
    )
    assert _index_rows(fresh) == expected


def test_release_tracked_drains_all_pipeline_persists(pipe, docs, spark):
    """Session-lifetime leak check (VERDICT r7, next #8): N back-to-back
    search/near_dups/rank_chunks calls followed by release_tracked()
    leaves the JVM with no more persisted RDDs than before — the
    long-lived-JVM posture bench_full relies on."""
    from data_etl_spark.cache import release_tracked

    def persisted() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    pipe.ingest(docs)
    release_tracked()
    spark.catalog.clearCache()
    baseline = persisted()

    for _ in range(3):
        pipe.search(["word1 word2", "word3"], k=2).count()
        pipe.near_dups(tau=0.4).count()
        pipe.rank_chunks().count()
        released = release_tracked()
        assert released >= 0  # near_dups' shingle persist is tracked
    assert persisted() <= baseline, (
        f"persisted RDDs leaked: {persisted()} > baseline {baseline}"
    )


def test_recover_skips_sibling_prefix_intent(pipe, docs, spark, tmp_path):
    """Two pipelines whose index paths share a filename prefix
    (``index`` / ``index2``) must not claim each other's intent files:
    recover() on the shorter-prefixed pipeline would otherwise load the
    sibling's intent, no-op, and os.remove() it — destroying the
    sibling's commit record (ADVICE r8 #3)."""
    import json
    import os

    pipe.ingest(docs)
    sib = ETLPipeline(
        spark,
        str(tmp_path / "index2"),
        ETLConfig(chunk_size=100, chunk_overlap=20, n_buckets=4),
    )
    sib.ingest(docs)
    # simulate the sibling crashing mid-swap: its intent file survives
    sibling_intent = str(tmp_path / "index2.intent")
    with open(sibling_intent, "w") as f:
        json.dump({"op": "swap", "buckets": [0], "staged": [], "owner": "index2"}, f)

    # "index".startswith match would claim index2.intent without the
    # owner check; it must neither act on it nor delete it
    assert pipe.recover() == []
    assert os.path.exists(sibling_intent)
    # the owning pipeline recovers (and clears) its own record
    assert sib.recover() == ["swap"]
    assert not os.path.exists(sibling_intent)


# -- per-operation job budget and checkpoint lifetime -------------------------


def _group_jobs(spark, group):
    """(name, description) of every job run under job group ``group``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        j = store.job(jid)
        desc = j.description()
        out.append((j.name(), desc.get() if desc.isDefined() else ""))
    return out


def _listing_jobs(jobs):
    # HadoopFSUtils' parallel file listing: a `parquet at ...` job that
    # lists the read's directories on executors before the scan plans
    return [j for j in jobs if j[1].startswith("Listing leaf files")]


def test_etl_ops_list_the_index_on_the_driver(spark, tmp_path, monkeypatch):
    """On a 64-bucket index, an upsert, a delete and an incremental
    process_folder run no parallel listing job, and force=False hands the
    converter only the new file."""
    from pyspark.sql import Observation

    from data_etl_spark.operators import convert

    src = tmp_path / "in"
    src.mkdir()
    for i in range(150):
        (src / f"doc_{i:03d}.txt").write_text(f"body{i} " * 30)
    pipe = ETLPipeline(
        spark, str(tmp_path / "index"), ETLConfig(chunk_size=100, chunk_overlap=20, n_buckets=64)
    )
    pipe.process_folder(str(src))
    n_dirs = sum(p.name.startswith("bucket=") for p in (tmp_path / "index").iterdir())
    assert n_dirs > 32, "fixture must exceed Spark's default listing threshold"

    sc = spark.sparkContext
    upd = spark.createDataFrame([("doc_001.txt", "fresh text " * 40)], "filename string, text string")
    # the incremental run's folder: doc_002 deleted, one new file
    (src / "doc_002.txt").unlink()
    (src / "doc_new.txt").write_text("brand new " * 30)
    real = convert.to_markdown
    seen = Observation("converter_input")
    monkeypatch.setattr(
        convert,
        "to_markdown",
        lambda df, *a, **kw: real(df.observe(seen, F.count(F.lit(1)).alias("rows")), *a, **kw),
    )
    ops = {
        "upsert": lambda: pipe.ingest(upd),
        "delete": lambda: pipe.delete_documents(["doc_002.txt"]),
        "incremental": lambda: pipe.process_folder(str(src), force=False),
    }
    try:
        for name, op in ops.items():
            sc.setJobGroup(f"etl_budget_{name}", name)
            op()
            jobs = _group_jobs(spark, f"etl_budget_{name}")
            assert jobs, name
            assert _listing_jobs(jobs) == [], (name, jobs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert seen.get["rows"] == 1
    names = {r.filename for r in pipe.index_table().select("filename").distinct().collect()}
    assert "doc_new.txt" in names and "doc_002.txt" not in names and len(names) == 150


def test_ingest_releases_its_checkpoint(pipe, docs, spark, monkeypatch):
    """The per-batch checkpoint of an upsert is dropped before ingest
    returns, also when the staged write raises; the bootstrap write into a
    missing index takes no checkpoint at all."""
    import data_etl_spark.etl as etl

    def persisted() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    calls = []
    real = etl.tracked_local_checkpoint
    monkeypatch.setattr(
        etl, "tracked_local_checkpoint", lambda *a, **kw: calls.append(1) or real(*a, **kw)
    )
    pipe.ingest(docs)
    assert calls == []

    upd = spark.createDataFrame([("doc_0.pdf", "fresh text " * 50)], "filename string, text string")
    before = persisted()
    pipe.ingest(upd)
    assert calls == [1]
    assert persisted() == before

    def failing_swap(*a, **kw):
        raise RuntimeError("staged write failed")

    monkeypatch.setattr(pipe, "_swap_buckets", failing_swap)
    with pytest.raises(RuntimeError, match="staged write failed"):
        pipe.ingest(upd)
    assert calls == [1, 1]
    assert persisted() == before
