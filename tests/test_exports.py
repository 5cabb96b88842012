"""The lazy (PEP 562) re-export maps: every advertised name resolves.

``__getattr__`` only looks a name up when it is first used, so an entry
left pointing at a deleted function fails at a caller's import, never
at package import. No Spark session is needed: resolving a name imports
its module, nothing more.
"""

from __future__ import annotations

import importlib

import polygon_daily_market_data_pipeline_spark as pkg
from polygon_daily_market_data_pipeline_spark import operators


def test_operators_all_matches_export_map():
    assert len(operators.__all__) == len(set(operators.__all__))
    assert set(operators.__all__) == set(operators._EXPORTS)
    assert set(pkg.__all__) == set(pkg._EXPORTS)


def test_every_exported_name_resolves():
    stale = []
    for package in (operators, pkg):
        for name, mod_name in package._EXPORTS.items():
            mod = importlib.import_module(f".{mod_name}", package.__name__)
            if not hasattr(mod, name) or getattr(package, name) is not getattr(
                mod, name
            ):
                stale.append(f"{package.__name__}.{name} -> {mod_name}")
    assert stale == []
