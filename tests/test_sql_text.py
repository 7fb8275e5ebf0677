"""Expressions built as Spark SQL text: the string-literal quoting
(``kernels.patterns.sql_string``) and the driver-side cost of building
the pipeline's DataFrames, which SQL text keeps low."""

from __future__ import annotations

from unittest import mock

from py4j import protocol
from py4j.clientserver import JavaClient

from universal_pdf_extractor_spark.io.fixtures import generate_transcripts
from universal_pdf_extractor_spark.kernels.classify import CURRENCY_PATTERN_STRINGS
from universal_pdf_extractor_spark.kernels.patterns import (
    BANK_STATEMENT_KEYWORDS,
    MOTOR_FINANCE_KEYWORDS,
    PATTERN_LITERALS,
    PROVIDER_LITERALS,
    PROVIDER_PATTERNS,
    _noncapturing,
    sql_string,
)
from universal_pdf_extractor_spark.schemas import TRANSCRIPTS_SCHEMA
from universal_pdf_extractor_spark.stages.pipeline import run_pipeline

# quotes, backslashes and every backslash sequence Spark's parser
# unescapes (\0, \b, \n, \r, \t, \Z, \%, \_, \uXXXX, octal \101)
AWKWARD = [
    "it's", "''", "\\", "\\\\", "\\'", "'\\", "ends with \\", "a\\'b\\\\'c",
    "\\0\\b\\n\\r\\t\\Z", "\\%\\_", "\\u0041", "\\101", "tab\there\nnewline",
    "£ € $", "",
]


def _pattern_strings() -> list[str]:
    out = list(MOTOR_FINANCE_KEYWORDS) + list(BANK_STATEMENT_KEYWORDS)
    for provider, patterns in PROVIDER_PATTERNS.items():
        out += [provider, *patterns]
    for table in (PATTERN_LITERALS, PROVIDER_LITERALS):
        out += [s for kv in table.items() for s in kv if s is not None]
    out += [s for pair in CURRENCY_PATTERN_STRINGS for s in pair]
    return out + [_noncapturing(p) for p in out]


def test_sql_string_round_trips(spark):
    strings = _pattern_strings() + AWKWARD
    row = spark.range(1).selectExpr(
        *(f"{sql_string(s)} AS c{i}" for i, s in enumerate(strings))).first()
    assert [row[i] for i in range(len(strings))] == strings


def test_pipeline_build_runs_no_job_and_few_py4j_calls(spark):
    """A warm build of every output frame over a small fixture.

    In PySpark 4.1 each Column method call makes ~20 py4j round trips;
    building classify's, score's and the manifest's expressions as
    Columns took 5,421 call commands here, as SQL text about 1,100."""
    small = spark.createDataFrame(generate_transcripts(5), schema=TRANSCRIPTS_SCHEMA)
    run_pipeline(small)  # the first build also registers the UDFs with the JVM
    real = JavaClient.send_command
    calls = []

    def counting(self, command, *args, **kwargs):
        if command.startswith(protocol.CALL_COMMAND_NAME):
            calls.append(command)
        return real(self, command, *args, **kwargs)

    sc = spark.sparkContext
    sc.setJobGroup("pipeline-build", "pipeline-build")
    try:
        with mock.patch.object(JavaClient, "send_command", counting):
            run_pipeline(small)
        # the status tracker learns of jobs from the asynchronous
        # listener bus: drain it, or a job may be missed
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        jobs = sc.statusTracker().getJobIdsForGroup("pipeline-build")
    finally:
        sc._jsc.clearJobGroup()
    assert list(jobs) == []
    assert len(calls) < 2_000, len(calls)
