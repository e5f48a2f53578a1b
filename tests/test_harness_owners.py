"""Each stream-replay harness decision has one owner module (no Spark):

* the replay-file layout (staggered mtimes) — sources/replay.py;
* the shuffle/state-partition scope — session.py;
* the memory-sink drain of the plans — streaming/sinks.drain;
* the versioned-snapshot commit (the commit log and its ``_LATEST`` hint)
  — txtable.py;
* the checkpoint of an iterative loop's round — caches.iterate.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "odni_apache_beam_consumer_spark",
)


def _is_call(node: ast.AST, obj: str, attr: str) -> bool:
    """``node`` is a call of ``<obj>.<attr>(...)``, where ``obj`` names
    the receiver's last attribute or variable."""
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
        return False
    recv = node.func.value
    name = recv.attr if isinstance(recv, ast.Attribute) else getattr(recv, "id", None)
    return node.func.attr == attr and name == obj


def _first_arg(node: ast.Call) -> object:
    return node.args[0].value if node.args and isinstance(node.args[0], ast.Constant) else None


def _offenders(pkg: str) -> list[str]:
    found = []
    for root, _, files in os.walk(pkg):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, pkg)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                where = f"{rel}:{getattr(node, 'lineno', 0)}"
                if _is_call(node, "os", "utime") and rel != "sources/replay.py":
                    found.append(f"{where}: os.utime(")
                elif (
                    _is_call(node, "conf", "set")
                    and _first_arg(node) == "spark.sql.shuffle.partitions"
                    and rel != "session.py"
                ):
                    found.append(f"{where}: shuffle-partition conf.set")
                elif (
                    _is_call(node, "writeStream", "format")
                    and _first_arg(node) == "memory"
                    and rel.startswith("plans/")
                ):
                    found.append(f'{where}: writeStream.format("memory")')
                elif _is_call(node, "SK", "to_memory") and rel.startswith("plans/"):
                    found.append(f"{where}: SK.to_memory(")
                elif _is_call(node, "os", "replace") and rel.startswith("streaming/"):
                    found.append(f"{where}: pointer os.replace")
                elif rel != "txtable.py":
                    if _is_call(node, "os", "link"):
                        found.append(f"{where}: commit os.link")
                    elif isinstance(node, ast.Assign) and any(
                        getattr(t, "id", None) == "_POINTER" for t in node.targets
                    ):
                        found.append(f"{where}: _POINTER definition")
    return found


def test_replay_harness_decisions_have_one_owner():
    """No staggered-mtime write outside sources/replay.py, no
    shuffle-partition ``conf.set`` outside session.py, no hand-written
    memory-sink drain under plans/ (a ``writeStream.format("memory")``
    or an ``SK.to_memory(`` whose timeout goes unchecked), no pointer
    file or commit link outside txtable.py, and no pointer flip under
    streaming/."""
    offenders = _offenders(PKG)
    assert not offenders, offenders


def _loop_checkpoints(pkg: str) -> list[str]:
    found = set()
    for root, _, files in os.walk(pkg):
        for name in sorted(files):
            path = os.path.join(root, name)
            rel = os.path.relpath(path, pkg)
            if not name.endswith(".py") or rel == "caches.py":
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for loop in ast.walk(tree):
                if not isinstance(loop, (ast.For, ast.AsyncFor, ast.While)):
                    continue
                for stmt in loop.body + loop.orelse:
                    for node in ast.walk(stmt):
                        if (
                            isinstance(node, ast.Call)
                            and isinstance(node.func, ast.Attribute)
                            and node.func.attr == "localCheckpoint"
                        ):
                            found.add(f"{rel}:{node.lineno}: localCheckpoint( in a loop")
    return sorted(found)


def test_loop_checkpoints_have_one_owner():
    """No ``localCheckpoint(`` call lexically inside a ``for``/``while``
    body outside caches.py: lineage-cutting driver loops run through
    ``caches.iterate``."""
    offenders = _loop_checkpoints(PKG)
    assert not offenders, offenders
