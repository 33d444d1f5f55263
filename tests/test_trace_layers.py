"""The traced benchmark patches the engine functions named in
``perfbench.spans.LAYERS``. A layer function deleted or renamed in the
engine would break ``perfbench/run.py --trace 1`` at install time, so
check every entry still resolves — read-only, without a Spark session."""

from __future__ import annotations

import importlib

import pytest

from perfbench import spans


@pytest.mark.parametrize(
    "mod_name,attr", [(m, a) for m, a, _ in spans.LAYERS], ids=[f"{m}.{a}" for m, a, _ in spans.LAYERS]
)
def test_layer_resolves(mod_name, attr):
    mod = importlib.import_module(f"{spans.PKG}.{mod_name}")
    if "." in attr:
        cls_name, meth = attr.split(".")
        assert meth in vars(getattr(mod, cls_name)), f"{cls_name}.{meth} is not defined on the class itself"
    else:
        assert callable(getattr(mod, attr, None)), f"{mod_name}.{attr} is gone"
