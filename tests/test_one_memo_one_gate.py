"""Structural guards: the package keeps one session memo and one regime gate.

Session-scoped caches go through ``session.memo`` (the only place that
reads ``applicationId``), and two-regime operators decide through
``telemetry.two_regime`` (the only caller of ``force_distributed()``), so
a hand-rolled cache or a copied gate cannot come back unnoticed. JVM
classes are looked up through ``session.jvm``, by their full name, never
by walking a package path off ``_jvm`` one py4j round trip per level."""

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
