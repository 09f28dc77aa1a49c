"""Session settings are written in one place.

``session._scoped`` is the engine's only pin/restore of session
settings: it holds one lock, so overlapping loops, replays and schema
reads cannot restore each other's values. A ``conf.set``/``conf.unset``
anywhere else in the package is an unlocked flip, so this walks the
syntax tree of every other module and fails on one.
"""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "page_rank_hadoop_spark"


def _conf_writes(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        f"{path.relative_to(PACKAGE.parent)}:{node.lineno}"
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("set", "unset")
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "conf"
    ]


def test_only_session_module_writes_session_settings():
    session = PACKAGE / "session.py"
    assert _conf_writes(session)  # the detector sees session.py's own writes
    modules = sorted(p for p in PACKAGE.rglob("*.py") if p != session)
    assert len(modules) > 20  # the walk found the package
    writes = [w for p in modules for w in _conf_writes(p)]
    assert writes == [], f"conf writes outside session.py: {writes}"
