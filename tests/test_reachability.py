"""No engine code that only tests reach.

A static, name-based reachability pass over ``flow_spark/`` (no JVM).
Its roots are what runs the engine: every ``@register`` query, the
module-level code of every ``flow_spark`` module (imports excluded) and
the decorators of its top-level definitions, and all of ``perfbench/``,
``tools/``, ``bench.py`` and ``__spark_entry__.py``.  A top-level
function or class is reached when a reached body names it: as a name,
as an attribute, or as a word in a string (a conf value or a ``getattr``
key can name a function).  Docstrings do not count: a docstring that
names a function does not run it.  Tests are not roots, so code that
only tests call shows up here.

A definition that nothing reaches must be deleted, wired into the path
that needs it, or listed in ``KEEP`` with the reason it stays.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

KEEP = {
    # public plugin API (SURVEY §2.1 #21): pipelines add actors through it
    "register_plugin",
    # pure-Python reference implementations that test_partitioning.py
    # compares the Spark layout kernels against
    "morton_interleave16_py",
    "hilbert_xy2d_py",
    # build the state that tests check on reachable code: compaction
    # rewrites files for snapshot_vacuum, the txn-marker chain, column
    # mapping, ADD COLUMN defaults and deletion vectors
    "snapshot_compact",
    # declares the persistent constraints every write path enforces
    "snapshot_set_constraints",
    # test_pipeline_streaming_mode's sink writer for run_streaming
    "memory_sink",
    # table maintenance an operator runs by hand: VACUUM, and the named
    # tags that snapshot_read resolves and VACUUM never collects
    "snapshot_vacuum",
    "snapshot_tag",
    "snapshot_drop_tag",
    # the exactly-once foreachBatch handler for streaming appends into a
    # snapshot table (txn markers in the manifest)
    "append_sink_batch",
    # the Kafka source named as the bridge's at-scale spool; without the
    # connector jar (absent from this image) it raises with the exact
    # Maven coordinate to add
    "read_kafka_stream",
    "kafka_jar_coordinate",
    # marks where an image decoder plugs into extract_features' batch
    # loop; pillow/opencv are not installed
    "decode_image",
    # test-only operator modules (compaction planner, row provenance,
    # bucketed joins) with eleven tests between them; their removal is
    # left to a change of its own (ROADMAP item 5)
    "plan_compaction",
    "compaction_summary",
    "read_with_provenance",
    "provenance_manifest",
    "stable_example_id",
    "write_bucketed",
    "colocated_join",
}

_WORD = re.compile(r"[A-Za-z_]\w*")


_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _docstrings(node: ast.AST) -> set[int]:
    """The ids of the docstring constants under ``node``."""
    out: set[int] = set()
    for n in ast.walk(node):
        if isinstance(n, _SCOPES) and n.body:
            first = n.body[0]
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                out.add(id(first.value))
    return out


def _names(node: ast.AST, docs: set[int]) -> set[str]:
    """Every name, attribute and string word under ``node``, skipping the
    docstrings in ``docs``: a docstring that names a function is prose,
    not a call."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and id(n) not in docs:
            out.update(_WORD.findall(n.value))
    return out


def _is_register(deco: ast.expr) -> bool:
    return isinstance(deco, ast.Call) and getattr(deco.func, "id", None) == "register"


def unreached(root: Path = ROOT) -> list[tuple[str, int, str]]:
    """(path, line, name) of each top-level ``flow_spark`` definition
    that no root reaches."""
    defs: dict[str, list[tuple[str, int, ast.AST]]] = {}
    roots: set[str] = set()
    docs: set[int] = set()
    for path in sorted((root / "flow_spark").rglob("*.py")):
        rel = str(path.relative_to(root))
        tree = ast.parse(path.read_text())
        docs |= _docstrings(tree)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append((rel, node.lineno, node))
                for deco in node.decorator_list:
                    roots |= _names(deco, docs)
                if any(_is_register(d) for d in node.decorator_list):
                    roots |= _names(node, docs) | {node.name}
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                roots |= _names(node, docs)
    entry = [root / "bench.py", root / "__spark_entry__.py"]
    entry += sorted((root / "tools").glob("*.py")) + sorted((root / "perfbench").rglob("*.py"))
    for path in entry:
        if path.exists():
            tree = ast.parse(path.read_text())
            roots |= _names(tree, _docstrings(tree))
    reached: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _rel, _line, node in defs.get(name, ()):
            todo.extend(_names(node, docs) - reached)
    return sorted(
        (rel, line, name)
        for name, sites in defs.items()
        if name not in reached
        for rel, line, _node in sites
    )


def test_every_engine_definition_is_reached():
    dead = [f"{rel}:{line} {name}" for rel, line, name in unreached() if name not in KEEP]
    assert not dead, (
        "flow_spark definitions that no query, pipeline, benchmark or tool "
        "reaches (delete or wire them, or add them to KEEP with a reason):\n"
        + "\n".join(dead)
    )


def test_keep_lists_only_unreached_definitions():
    """A KEEP entry that something reaches again, or that no longer
    exists, is stale."""
    assert KEEP <= {name for _rel, _line, name in unreached()}


def test_pass_names_a_definition_only_a_test_calls(tmp_path):
    pkg = tmp_path / "flow_spark"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        '"""A docstring naming dead() does not reach it."""\n'
        "from flow_spark.other import helper\n"
        "\n"
        "@register('q', oracle=None, category='x')\n"
        "def q(spark, sf):\n"
        '    """Unlike used(), helper() is not called."""\n'
        "    return used(spark)\n"
        "\n"
        "def used(spark):\n"
        "    return spark\n"
        "\n"
        "def dead(spark):\n"
        "    return used(spark)\n"
    )
    (pkg / "other.py").write_text("def helper():\n    pass\n")
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_mod.py").write_text("from flow_spark.mod import dead\n")
    assert unreached(tmp_path) == [
        ("flow_spark/mod.py", 12, "dead"),
        ("flow_spark/other.py", 1, "helper"),
    ]
