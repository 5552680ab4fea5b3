"""Lint: no ``kgforge`` code sets a Spark job group or description.

Callers own those properties: the benchmark's tracer attributes every
job of a traced call to the job group it sets per span, and a nested
``setJobGroup`` (or a raw ``spark.jobGroup.id`` local property) inside
the library would move those jobs out of the span and zero its
per-layer metrics."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FORBIDDEN_ATTRS = {"setJobGroup", "setJobDescription"}
FORBIDDEN_PROPS = {"spark.jobGroup.id", "spark.job.description"}


def _violations(source: str, filename: str) -> list[str]:
    out = []
    for node in ast.walk(ast.parse(source, filename)):
        if isinstance(node, ast.Attribute) and node.attr in FORBIDDEN_ATTRS:
            out.append(f"{filename}:{node.lineno}: {node.attr}")
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "setLocalProperty"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value in FORBIDDEN_PROPS
        ):
            out.append(f"{filename}:{node.lineno}: setLocalProperty({node.args[0].value!r})")
    return out


def test_checker_flags_job_group_calls():
    src = (
        "sc.setJobGroup('g', 'd')\n"
        "spark.sparkContext.setJobDescription('d')\n"
        "sc._jsc.setLocalProperty('spark.jobGroup.id', 'g')\n"
        "sc.setLocalProperty('spark.scheduler.pool', 'p')\n"
    )
    assert len(_violations(src, "x.py")) == 3


def test_kgforge_sets_no_job_group():
    found = []
    for dirpath, _dirs, files in os.walk(os.path.join(ROOT, "kgforge")):
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                with open(path) as f:
                    found += _violations(f.read(), os.path.relpath(path, ROOT))
    assert not found, found
