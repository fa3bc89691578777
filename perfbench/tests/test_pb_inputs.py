"""Inputs come from the seed alone; metric names fit the result contract."""

import filecmp
import json
import os
import re

import datagen
import run
import workloads

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _churn_inputs(tmp, seed, cycles=3):
    """The bootstrap corpus, the query batch and ``cycles`` cycles of the
    churn plan, applied to the model the way the workload applies them."""
    wl = workloads.EtlChurn(str(tmp), seed)
    wl.inputs()
    boot = dict(wl.model)
    model = dict(wl.model)
    plans = []
    for c in range(cycles):
        new, changed, deleted = wl.plan(c, list(model))
        plans.append((new, changed, deleted))
        model.update(new)
        model.update(changed)
        for n in deleted:
            del model[n]
    return boot, wl.queries, plans


def test_same_seed_same_etl_inputs(tmp_path):
    assert _churn_inputs(tmp_path / "a", 7) == _churn_inputs(tmp_path / "b", 7)
    a, b = tmp_path / "a" / "input", tmp_path / "b" / "input"
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors


def test_other_seed_other_etl_inputs(tmp_path):
    b7, q7, p7 = _churn_inputs(tmp_path / "a", 7)
    b8, q8, p8 = _churn_inputs(tmp_path / "b", 8)
    assert b7 != b8 and q7 != q8 and p7 != p8


def test_headline_tables_do_not_depend_on_the_seed(tmp_path):
    for d, seed in (("a", 1), ("b", 2)):
        wl = workloads.Headline(str(tmp_path / d), seed)
        wl.inputs()
    a, b = tmp_path / "a" / "tables", tmp_path / "b" / "tables"
    names = sorted(os.listdir(a))
    assert len(names) == 10
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors


def test_headline_knn_corpus_is_above_its_ivf_gate(tmp_path):
    import pyarrow.parquet as pq

    from data_etl_spark.plans.similarity import _AUTO_THRESHOLD

    wl = workloads.Headline(str(tmp_path), 1)
    wl.inputs()
    ids = pq.read_table(os.path.join(wl.sf_dir, "embeddings.parquet")).column("vec_id").to_pylist()
    assert sum(1 for i in ids if i >= 10) > _AUTO_THRESHOLD


def test_churn_plan_covers_any_number_of_cycles_and_touches_live_documents(tmp_path):
    wl = workloads.EtlChurn(str(tmp_path), 3)
    wl.inputs()
    live = set(wl.model)
    for c in range(40):
        new, changed, deleted = wl.plan(c, sorted(live))
        assert len(new) == workloads.NEW_PER_CYCLE and not live & set(new)
        live |= set(new)
        assert set(changed) <= live and set(deleted) <= live
        assert not set(changed) & set(deleted)
        live -= set(deleted)


def test_etl_documents_fit_one_converter_page():
    from data_etl_spark.operators.convert import FAKE_PAGE_CHARS

    docs = datagen.etl_corpus(5, 2000)
    assert max(len(t) for t in docs.values()) < FAKE_PAGE_CHARS


def test_metric_names_fit_the_contract():
    spec = run.load_spec()
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert all(m["bound"] <= setup["bound"] <= 0.25 for m in spec["end_to_end"])
