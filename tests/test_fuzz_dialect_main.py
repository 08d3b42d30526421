"""The control flow of ``fuzz_dialect.main``, with Spark and the
comparison stubbed out."""

import sys
from unittest import mock

import fuzz_dialect as fz


def test_fuzzer_stops_when_the_jvm_is_gone(monkeypatch, capsys):
    """Once py4j cannot reach the JVM, every later seed would read
    ``spark_error_only``; two killed waves reported 371 and 398 such
    findings.  ``main`` stops at the first one, names its seed and
    exits non-zero, and the findings before it still print."""
    start, dead = 500, 3
    calls = []

    def run(self, sql):
        calls.append(sql)
        if len(calls) == 2:
            return ("value_mismatch", "row 0 col 0: spark=1 duckdb=2", None)
        if len(calls) > dead:
            return ("spark_error_only", "Py4JNetworkError: Answer from Java side is empty", None)
        return ("ok", None, None)

    monkeypatch.setattr(fz.Differ, "run", run)
    monkeypatch.setattr("parquet_query_spark.engine.Engine.open", lambda *a, **k: mock.MagicMock())
    monkeypatch.setattr(sys, "argv", ["fuzz_dialect.py", "--seeds", "10", "--start", str(start), "--no-shrink"])
    assert fz.main() == 2
    out = capsys.readouterr().out
    assert len(calls) == dead + 1
    assert f"STOPPED at seed {start + dead}" in out
    assert f"FAIL seed={start + 1} class=value_mismatch" in out
    for seed in range(start + dead, start + 10):
        assert f"[seed {seed}]" not in out and f"FAIL seed={seed}" not in out
