"""The served-path benchmark's traced names still exist.

`servebench/spans.py` wraps each `(module, attribute path)` in its
TARGETS by replacing the attribute in its owner's `__dict__`
(`Tracer.install`). A refactor that renames a target, or moves it to a
base class so the owner only inherits it, would crash a traced
benchmark run; this check fails first. No SparkSession is started.
"""

import importlib
import importlib.util
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _targets() -> list[tuple[str, str, str]]:
    spec = importlib.util.spec_from_file_location(
        "servebench_spans", os.path.join(REPO, "servebench", "spans.py")
    )
    spans = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = spans  # @dataclass resolves its module here
    spec.loader.exec_module(spans)
    return [
        (name, module, path)
        for name, targets in spans.TARGETS.items()
        for module, path in targets
    ]


@pytest.mark.parametrize("name,module,path", _targets())
def test_servebench_target_is_an_own_attribute(name, module, path):
    owner = importlib.import_module(module)
    *classes, attr = path.split(".")
    for c in classes:
        owner = getattr(owner, c)
    assert attr in vars(owner), (
        f"span {name!r}: {module}.{path} is not defined on its owner "
        "(renamed or inherited) — servebench/spans.py cannot wrap it"
    )
