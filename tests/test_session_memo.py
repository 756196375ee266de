"""``catalog.session_memo`` holds the engine's driver-side decisions for
the live Spark context only.  Fake sessions stand in, so no JVM starts."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from r_e_hive__spark import catalog


@pytest.fixture(autouse=True)
def empty_memo(monkeypatch):
    # the suite's real session keeps its own memo
    monkeypatch.setattr(catalog, "_memo", {})


def _session(app_id: str, start: int):
    return SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId=app_id, startTime=start)
    )


class _Frame:
    unpersisted = False

    def unpersist(self):
        self.unpersisted = True


def test_new_context_drops_other_contexts_entries():
    a = _session("local-1", 100)
    catalog.session_memo(a)[("confs",)] = True
    assert catalog.session_memo(_session("local-1", 100)) == {("confs",): True}
    # a restarted context may reuse the application id, never the start time
    assert catalog.session_memo(_session("local-1", 200)) == {}
    assert catalog.session_memo(_session("local-2", 300)) == {}
    assert catalog.session_memo(a) == {}


def test_clear_table_cache_drops_only_table_entries():
    memo = catalog.session_memo(_session("local-1", 100))
    frame = _Frame()
    others = {
        ("confs",): True,
        ("density", 7, "text"): 512.0,
        ("broadcast_gate", "q3", "/sf"): (True, "probe"),
        ("bm25_index", "/sf"): "/idx",
    }
    memo.update({("table", "/sf", "orders"): frame, **others})
    catalog.clear_table_cache()
    assert frame.unpersisted
    assert memo == others
