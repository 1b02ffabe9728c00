"""The names extractbench patches and reads must exist, so a rename
breaks this suite instead of the next traced benchmark run."""

from __future__ import annotations

import ast
import importlib
import inspect

from extractbench import bench, checks
from ragflow_spark.spark.pipeline import PipelineConfig


def test_traced_layers_resolve():
    for module, attr, _span in bench.DOC_LAYERS + bench.COMMIT_LAYERS:
        obj = importlib.import_module(module)
        for part in attr.split("."):
            obj = getattr(obj, part)
        assert callable(obj), (module, attr)


def _config_attributes_read(mod) -> set[str]:
    """Attributes read off a ``PipelineConfig(...)`` call, or off a
    module-level name bound to one, anywhere in ``mod``."""
    tree = ast.parse(inspect.getsource(mod))

    def is_config_call(node) -> bool:
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "PipelineConfig"
        )

    names = {
        t.id
        for n in tree.body
        if isinstance(n, ast.Assign) and is_config_call(n.value)
        for t in n.targets
        if isinstance(t, ast.Name)
    }
    return {
        n.attr
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute)
        and (is_config_call(n.value) or (isinstance(n.value, ast.Name) and n.value.id in names))
    }


def test_config_attributes_exist():
    cfg = PipelineConfig(out_dir="", **bench.COMMIT)
    read = _config_attributes_read(checks) | _config_attributes_read(bench)
    assert {"template", "budget", "delimiters", "manifest_dir", "chunks_dir"} <= read
    for name in read:
        assert hasattr(cfg, name), name
