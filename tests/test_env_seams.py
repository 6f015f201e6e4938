"""Product code reads no ``SPARK_GRAFT_*`` environment variable except the
deployment and provisioning settings. An A/B measurement knob is deleted
once its result is recorded, not left behind as a second code path.

Spark-free: a static scan of the package source."""

from __future__ import annotations

import ast
import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "fxa_amplitude_send_spark"
ALLOWED = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_STREAM_PARTITIONS",
}
# A read passes the bare name (or a prefix of it) as a string literal;
# docstrings and comments mention names only inside prose.
_NAME = re.compile(r"SPARK_GRAFT_\w*")


def _env_names() -> list[tuple[str, int, str]]:
    found = []
    for py in sorted(PKG.rglob("*.py")):
        tree = ast.parse(py.read_text(encoding="utf-8"), str(py))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and _NAME.fullmatch(node.value)
            ):
                found.append((str(py.relative_to(PKG.parent)), node.lineno, node.value))
    return found


def test_only_provisioning_env_vars_are_read():
    names = _env_names()
    assert {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_STREAM_PARTITIONS"} <= {
        n for _, _, n in names
    }, "scan found none of the known reads"
    seams = [f"{f}:{line} {n}" for f, line, n in names if n not in ALLOWED]
    assert not seams, f"environment seams in product code: {seams}"
