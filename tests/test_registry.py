"""The query registry is loaded by one function, ``queries.load_registry``."""

from __future__ import annotations

import pkgutil

import goeventstream_spark
from goeventstream_spark import queries


def test_load_registry_imports_every_queries_module():
    reg = queries.load_registry()
    assert reg is queries.QUERIES
    assert len(reg) == 310
    modules = {
        f"goeventstream_spark.{m.name}"
        for m in pkgutil.iter_modules(goeventstream_spark.__path__)
        if m.name.startswith("queries")
    }
    registered_from = {fn.__module__ for fn in reg.values()}
    assert modules <= registered_from, sorted(modules - registered_from)
