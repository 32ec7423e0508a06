"""`tools/compare_oracle.py` checks exactly the queries it is asked for."""

import importlib.util
from pathlib import Path

import pytest

_PATH = Path(__file__).resolve().parents[1] / "tools" / "compare_oracle.py"


def _tool():
    spec = importlib.util.spec_from_file_location("compare_oracle", _PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_selected_keeps_registry_order_and_names_unknown_queries():
    queries = {"a": None, "b": None, "c": None}
    selected = _tool().selected
    assert selected(queries, []) == ["a", "b", "c"]
    assert selected(queries, ["c", "a"]) == ["a", "c"]
    with pytest.raises(ValueError, match="unknown queries: nope, zz"):
        selected(queries, ["a", "zz", "nope"])
