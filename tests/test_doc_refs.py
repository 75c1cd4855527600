"""Doc-reference guard: the code paths and test names that README.md,
COVERAGE.md and MIGRATION.md cite must exist, so a deletion or rename that
leaves a dangling pointer in the docs fails here.  Text only, no Spark.

A cited ``*.py`` path counts as this repo's when its first component is a
directory at the repo root or a subpackage of ``data_pipeline_spark`` (the
docs cite package modules as ``cdc/emit.py``); other paths name files of the
reference system the docs compare against."""

import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "data_pipeline_spark")
TESTS = os.path.join(ROOT, "tests")
DOCS = ("README.md", "COVERAGE.md", "MIGRATION.md")


def _read(name):
    with open(os.path.join(ROOT, name), encoding="utf-8") as fh:
        return fh.read()


def _dirs(base):
    return {e for e in os.listdir(base) if os.path.isdir(os.path.join(base, e))}


def test_cited_py_paths_exist():
    bases = {d: ROOT for d in _dirs(ROOT)}
    bases.update({d: PKG for d in _dirs(PKG)})
    missing = []
    for doc in DOCS:
        for path in set(re.findall(r"[\w./-]*\w\.py\b", _read(doc))):
            base = bases.get(path.split("/")[0]) if "/" in path else None
            if base is not None and not os.path.isfile(os.path.join(base, path)):
                missing.append(f"{doc}: {path}")
    assert not missing, missing


def test_coverage_test_names_exist():
    files = {f[:-3] for f in os.listdir(TESTS) if f.endswith(".py")}
    defs = set()
    for f in files:
        defs.update(re.findall(r"^\s*def (test_\w+)", _read(f"tests/{f}.py"), re.M))
    cited = set(re.findall(r"\btest_\w+", _read("COVERAGE.md")))
    assert sorted(cited - files - defs) == []
