"""Driver round-trip budget of plan construction on the sizing path.

At 50k rows a sizing iteration does little data work, so the time the
driver spends building plans over Py4J shows up in the wall. Each
``functions``/``Column`` call costs a call (``c``) command and usually
reflection (``r``) lookups; SQL text is parsed on the JVM in a few calls.
These pins count both while a plan is built, without running it, and
fail if a hot plan goes back to being composed Column by Column (a
five-branch ``when`` chain cost about 250 round-trips per label)."""

from __future__ import annotations

import contextlib

import pytest
from py4j.clientserver import ClientServerConnection

from impala_base_to_cdw_sizing_spark.config import DEFAULT_PARAMS
from impala_base_to_cdw_sizing_spark.operators.classify import classify
from impala_base_to_cdw_sizing_spark.operators.derive import derive
from impala_base_to_cdw_sizing_spark.schemas import API_DOC_SCHEMA
from impala_base_to_cdw_sizing_spark.sources.cm_api import flatten_api_docs
from tests.test_pipeline import QH_SCHEMA, ROWS


@contextlib.contextmanager
def _count_roundtrips():
    counts = {"c": 0, "r": 0}
    send = ClientServerConnection.send_command

    def counting(self, command):
        kind = command[:1]
        if kind in counts:
            counts[kind] += 1
        return send(self, command)

    ClientServerConnection.send_command = counting
    try:
        yield counts
    finally:
        ClientServerConnection.send_command = send


def _roundtrips(build) -> int:
    build()  # warm: first-use class lookups are not the steady state
    with _count_roundtrips() as counts:
        build()
    return counts["c"] + counts["r"]


@pytest.fixture(scope="module")
def query_history(spark):
    return spark.createDataFrame(ROWS, QH_SCHEMA)


@pytest.fixture(scope="module")
def api_docs(spark):
    return spark.createDataFrame([], API_DOC_SCHEMA)


# composed from Columns call by call, these took 717 (derive), 1,337
# (classify) and well over 1,000 (summary, argmax, matrix, utilization
# and the workload size class) round-trips
def test_derive_builds_in_few_roundtrips(query_history):
    assert _roundtrips(lambda: derive(query_history, DEFAULT_PARAMS)) <= 60


def test_classify_builds_in_few_roundtrips(query_history):
    derived = derive(query_history, DEFAULT_PARAMS)
    assert _roundtrips(lambda: classify(derived)) <= 40


def test_report_aggregate_builds_in_few_roundtrips(query_history):
    from impala_base_to_cdw_sizing_spark.operators.aggregates import report_aggregate

    derived = derive(query_history, DEFAULT_PARAMS)
    assert _roundtrips(lambda: report_aggregate(derived, DEFAULT_PARAMS)) <= 150


# composed from Columns, the EP1 flatten took 612 round-trips. Each
# selectExpr string is one Py4J call (the list is copied element by
# element), so it now costs about one round-trip per output column: 19
# for its 15 columns
def test_api_flatten_builds_in_few_roundtrips(api_docs):
    assert _roundtrips(lambda: flatten_api_docs(api_docs)) <= 40
