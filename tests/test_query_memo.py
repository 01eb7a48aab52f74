"""The application-scoped memo in queries.py, checked with a stub session
object (no JVM): parsed expressions are keyed by their SQL text, and a new
applicationId evicts every other application's entries."""

from __future__ import annotations

from types import SimpleNamespace

from oxidizepdf_spark import queries as Q


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_expr_memo_keys_by_sql_text_and_evicts_old_applications(monkeypatch):
    monkeypatch.setattr(Q, "_MEMO", {})
    monkeypatch.setattr(Q.F, "expr", lambda sql: SimpleNamespace(sql=sql))
    app1 = _session("app-1")

    pairs = Q._expr_memo(app1, "size(ds) - 2")
    # equal SQL shares one entry; distinct SQL never does
    assert Q._expr_memo(app1, "size(ds) - 2") is pairs
    other = Q._expr_memo(app1, "size(ds) - 1")
    assert other is not pairs and other.sql == "size(ds) - 1"
    plan = Q._app_memo(app1, "docs:/x", object)
    assert Q._app_memo(app1, "docs:/x", object) is plan
    assert len(Q._MEMO) == 3

    # the first lookup under a new application evicts the old one's entries
    app2 = _session("app-2")
    fresh = Q._expr_memo(app2, "size(ds) - 2")
    assert fresh is not pairs and fresh.sql == "size(ds) - 2"
    assert list(Q._MEMO) == [("app-2", ("expr", "size(ds) - 2"))]
