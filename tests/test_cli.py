"""CLI surface (python -m etl_8million_data__spark)."""

from __future__ import annotations

from etl_8million_data__spark.__main__ import main


def test_cli_list_runs_without_spark(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "tpch_q3_shipping_priority" in out
    assert "[oracle]" in out


def test_cli_unknown_query_exits_2():
    # argparse path only; the unknown name is rejected before any job runs
    assert main(["explain", "no_such_query"]) == 2


def test_registry_load_raises_on_a_missing_family(monkeypatch):
    # a family that fails to import must not silently drop its queries
    import pytest

    from etl_8million_data__spark.plans import registry

    monkeypatch.setattr(registry, "_MODULES", ("no_such_family",))
    with pytest.raises(ModuleNotFoundError, match="no_such_family"):
        registry._load()
