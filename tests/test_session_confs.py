"""One session-conf table: ``build_session`` and ``prep`` must leave a
session with the same value for every key of ``SESSION_CONFS``."""

from __future__ import annotations

from data_etl_spark.session import SESSION_CONFS, prep


def test_build_session_and_prep_apply_the_same_confs(spark):
    # the shared test session comes from build_session
    built = {k: spark.conf.get(k) for k in SESSION_CONFS}
    # a second session on the same context, every table key back at its
    # default, stands in for a driver-supplied vanilla session
    vanilla = spark.newSession()
    for k in SESSION_CONFS:
        vanilla.conf.unset(k)
    prepped = {k: prep(vanilla).conf.get(k) for k in SESSION_CONFS}
    assert built == prepped == SESSION_CONFS
