"""Every name a package module lists in ``__all__`` exists on it, so a
deleted function cannot leave a stale export behind."""

import importlib
import pkgutil

import table_transformer_spark


def test_every_all_entry_resolves():
    checked = 0
    for info in pkgutil.walk_packages(table_transformer_spark.__path__,
                                      prefix="table_transformer_spark."):
        module = importlib.import_module(info.name)
        names = getattr(module, "__all__", None)
        if names is None:
            continue
        missing = [n for n in names if not hasattr(module, n)]
        assert not missing, f"{info.name}.__all__ names missing {missing}"
        checked += 1
    assert checked > 0
