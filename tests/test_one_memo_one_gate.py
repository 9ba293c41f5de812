"""Structural guards: the package keeps one session memo, one regime
gate and one sink file shaper.

Session-scoped caches go through ``session.memo`` (the only place that
reads ``applicationId``), and two-regime operators decide through
``telemetry.two_regime`` (the only caller of ``force_distributed()``), so
a hand-rolled cache or a copied gate cannot come back unnoticed. JVM
classes are looked up through ``session.jvm``, by their full name, never
by walking a package path off ``_jvm`` one py4j round trip per level.
Sink files are shaped by ``sinks.writers._sized`` alone, so a copied
round-robin ``repartition(n)``, which sorts every row before its
exchange, cannot come back into the sink layer."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "dumpty_spark"


def _sources():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG).as_posix(), path.read_text()


def test_application_id_is_read_only_by_the_session_memo():
    hits = [rel for rel, src in _sources() if "applicationId" in src]
    assert hits == ["session.py"]


def test_force_distributed_is_called_only_by_two_regime():
    callers = []
    for rel, src in _sources():
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name == "force_distributed":
                    callers.append(rel)
    assert callers == ["operators/telemetry.py"]


def test_no_jvm_package_attribute_chains():
    """No ``jvm.<lowercase package>.`` attribute chain (``_jvm.org.apache``,
    ``jvm.java.util``) anywhere in the package."""
    chains = []
    for rel, src in _sources():
        for node in ast.walk(ast.parse(src)):
            if not (isinstance(node, ast.Attribute) and isinstance(node.value, ast.Attribute)):
                continue
            base = node.value
            owner = base.value
            owner_name = owner.attr if isinstance(owner, ast.Attribute) else getattr(owner, "id", "")
            if owner_name.endswith("jvm") and base.attr[:1].islower():
                chains.append(f"{rel}:{node.lineno}")
    assert chains == []


def test_sink_files_are_shaped_only_by_sized():
    """No column-less ``.repartition(<n>)`` under ``sinks/`` outside
    ``writers._sized``."""
    copies = []
    for rel, src in _sources():
        if not rel.startswith("sinks/"):
            continue
        tree = ast.parse(src)
        inside = {
            id(n)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and fn.name == "_sized"
            for n in ast.walk(fn)
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "repartition"
                and len(node.args) == 1
                and not isinstance(node.args[0], ast.Starred)
                and not node.keywords
                and id(node) not in inside
            ):
                copies.append(f"{rel}:{node.lineno}")
    assert copies == []
