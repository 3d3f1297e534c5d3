"""Guard: every public top-level function and class in the package has a
caller outside ``tests/``.

Library code that only tests run is weight without a user: it has to be
read, kept in step and reviewed, and it pins nothing about what the
system does. A name passes when any of these holds:

* some non-test code names it (the package, ``scripts/``, ``bench.py``,
  ``perfbench/`` or ``__spark_entry__.py``), outside its own definition;
* it carries a decorator (the registry builders are reached through
  ``@register``, not by name);
* it is listed in ``KEEP`` with the reason it stays.

The scan is by word, so a mention in another definition's docstring or
in a string-keyed dispatch table counts as a reference.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "sql_database_to_elastic_datalake_spark"

#: test-only on purpose: name → why it stays
KEEP = {
    "geohash_py": "pure-Python geohash reference the native column "
                  "expression is tested against",
    "geotile_py": "pure-Python geotile reference the native column "
                  "expression is tested against",
    "char_ngrams": "literal n-gram set the substring fast path of "
                   "lang_scores_ngram is tested against",
    "range_partition_options": "JDBC reader: the paper's SQL source",
    "hash_partition_predicates": "JDBC reader: the paper's SQL source",
    "read_entity": "JDBC reader: the paper's SQL source",
    "entity_query_sql": "JDBC reader: the paper's SQL source",
    "write_zordered": "Z-order lake writes (SURVEY)",
    "compact_lake": "documented small-file compaction entry point "
                    "(README, COVERAGE)",
    "read_csv_lines": "documented CSV source entry point (COVERAGE)",
    "stream_upsert_into": "documented streaming upsert entry point "
                          "(docs/merge-concurrency.md)",
}


def _non_test_sources() -> list[Path]:
    files = sorted(PKG.rglob("*.py"))
    files += sorted((ROOT / "scripts").glob("*.py"))
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    files += sorted(p for p in (ROOT / "perfbench").rglob("*.py")
                    if "tests" not in p.relative_to(ROOT).parts)
    return files


def _words(text: str) -> Counter:
    return Counter(re.findall(r"\w+", text))


def test_public_names_have_non_test_callers():
    texts = {p: p.read_text() for p in _non_test_sources()}
    total = sum((_words(t) for t in texts.values()), Counter())
    orphans = []
    for path in sorted(PKG.rglob("*.py")):
        lines = texts[path].split("\n")
        for node in ast.parse(texts[path]).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                continue
            if node.name.startswith("_") or node.decorator_list \
                    or node.name in KEEP:
                continue
            own = _words("\n".join(lines[node.lineno - 1:node.end_lineno]))
            if total[node.name] - own[node.name] <= 0:
                orphans.append(f"{path.relative_to(ROOT)}:{node.name}")
    assert not orphans, (
        "public names only tests call — wire them into a non-test "
        f"caller, delete them, or add them to KEEP with a reason: {orphans}")


def test_keep_entries_are_live():
    """A KEEP entry whose definition is gone is stale."""
    defined = {
        node.name
        for path in PKG.rglob("*.py")
        for node in ast.parse(path.read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef))
    }
    assert set(KEEP) <= defined, sorted(set(KEEP) - defined)
