"""Span and job attribution, status-store retention and wrapper hygiene."""

import json
import operator
import os
import subprocess
import sys
import textwrap

import tracing
from tracing import SiteResolver, Tracer


def _jobs_since(spark, first):
    return [j for j in tracing.read_jobs(spark) if j["id"] >= first]


def _next_job_id(spark):
    return max((j["id"] for j in tracing.read_jobs(spark)), default=-1) + 1


def test_spans_attribute_known_job_counts(spark):
    sc = spark.sparkContext
    first = _next_job_id(spark)
    tr = Tracer(prefix="t1")
    with tr.span("bench", "outer"):
        sc.parallelize(range(100), 4).count()  # 1 job, 1 stage, 4 tasks
        with tr.span("operators.toy", "inner"):
            sc.parallelize(range(100), 4).count()
            # 1 job, 2 stages, 4 + 2 tasks
            sc.parallelize(range(100), 4).map(lambda x: (x % 3, 1)).reduceByKey(operator.add, 2).collect()
    sc.parallelize(range(10), 2).count()  # outside every span
    jobs = _jobs_since(spark, first)
    assert len(jobs) == 4
    assert tracing.missing_ids([j["id"] for j in jobs]) == []
    tot = tr.layer_totals([j for j in jobs if tr.span_of_group(j["group"]) is not None])
    assert tot["bench"]["jobs"] == 3  # inclusive of the nested span
    assert tot["operators.toy"]["jobs"] == 2
    assert tot["bench"]["calls"] == tot["operators.toy"]["calls"] == 1
    stages = tracing.read_stages(spark)
    shuffle_job = jobs[2]
    assert len(shuffle_job["stage_ids"]) == 2
    assert sum(stages[s]["tasks"] for s in shuffle_job["stage_ids"]) == 6
    assert shuffle_job["tasks"] == 6
    assert jobs[3]["group"] is None


def test_status_store_keeps_more_than_the_default_1000_jobs(spark):
    first = _next_job_id(spark)
    for _ in range(1100):
        spark.range(1).collect()  # JVM-only, at least one job each
    ids = [j["id"] for j in _jobs_since(spark, first)]
    assert len(ids) >= 1100
    assert tracing.missing_ids(ids) == []


def test_wrappers_reach_every_binding_and_uninstall_restores_them(spark):
    import data_etl_spark.etl as etl
    import data_etl_spark.operators.merge as merge

    orig = merge.merge_by_key
    assert etl.merge_by_key is orig  # bound at import by etl.py
    tr = Tracer(prefix="t2")
    tr.install()
    try:
        assert Tracer.installed()
        assert merge.merge_by_key is not orig
        assert etl.merge_by_key is merge.merge_by_key
        a = spark.createDataFrame([("x", 1), ("y", 2)], "k string, v int")
        b = spark.createDataFrame([("x", 3)], "k string, v int")
        # the plans import operators inside function bodies: the module
        # attribute is what they resolve
        from data_etl_spark.operators.merge import merge_by_key

        rows = merge_by_key(a, b, keys=["k"]).collect()
        assert sorted((r.k, r.v) for r in rows) == [("x", 3), ("y", 2)]
        assert [s.name for s in tr.spans if s.layer == "operators.merge"] == ["merge_by_key"]
    finally:
        tr.uninstall()
    assert merge.merge_by_key is orig and etl.merge_by_key is orig
    assert not Tracer.installed()


def test_listener_records_each_sql_execution_until_uninstalled(spark):
    tr = Tracer(prefix="t3")
    tr.listen(spark)
    try:
        df = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()
        df.write.format("noop").mode("overwrite").save()
        spark.range(5).count()
        tr.drain()
        assert [q["func"] for q in tr.queries] == ["overwrite", "count"]
        assert all(q["ok"] and q["catalyst_s"] >= 0 for q in tr.queries)
    finally:
        tr.uninstall()
    spark.range(5).count()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(tr.queries) == 2


def test_site_resolver_names_function_and_statement(tmp_path):
    src = tmp_path / "mod.py"
    src.write_text(textwrap.dedent(
        """\
        def ingest(df):
            x = 1
            buckets = {
                r for r in df.collect()
            }
            stats = (
                df.groupBy()
                .count()
                .collect()
            )
            return stats

        def other():
            return 2
        """
    ))
    r = SiteResolver()
    assert r.resolve(f"collect at {src}:4") == ("ingest", "buckets")
    assert r.resolve(f"collect at {src}:9") == ("ingest", "stats")
    assert r.resolve(f"count at {src}:14") == ("other", None)
    assert r.resolve("$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768") == (None, None)


def test_engine_ingest_sites_resolve_to_the_etl_phases():
    """The statements the etl phase attribution keys on still exist."""
    import ast

    import data_etl_spark.etl as etl

    path = etl.__file__
    tree = ast.parse(open(path).read())
    ingest = next(
        n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef) and n.name == "ingest"
    )
    r = SiteResolver()
    labels = {r.resolve(f"collect at {path}:{s.end_lineno}")[1] for s in ingest.body}
    assert {"buckets", "stats"} <= labels


def test_untraced_run_installs_no_wrappers(tmp_path):
    """A full untraced run of a stub workload sees no wrapper at any
    point, while the traced run of the same workload does."""
    bench = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""\
        import json, sys
        sys.path.insert(0, {bench!r})
        import run, workloads
        from tracing import Tracer

        seen = []

        class Stub:
            min_cycles = 1
            def __init__(self, work, seed): pass
            def inputs(self): pass
            def prepare(self, spark, rec): seen.append(Tracer.installed())
            def cycle(self, spark, rec):
                rec.op("op", lambda: spark.range(3).count())
                seen.append(Tracer.installed())
            def check(self, spark, rec): pass
            def detail(self, rec): return {{}}
            def op_p50(self, rec): return rec.samples["op"][0]

        workloads.WORKLOADS["stub"] = Stub
        trace = sys.argv[1]
        run.main(["--workload", "stub", "--seed", "1", "--seconds", "0.1", "--trace", trace])
        print(json.dumps(seen))
        """
    )
    for trace, want in (("0", False), ("1", True)):
        p = subprocess.run(
            [sys.executable, "-c", script, trace], capture_output=True, text=True, timeout=300
        )
        assert p.returncode == 0, p.stderr[-2000:]
        seen = [ln for ln in p.stdout.splitlines() if ln.startswith("[")][-1]
        assert set(json.loads(seen)) == {want}
