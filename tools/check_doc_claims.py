"""Doc-claims audit: every code object, test, and query the docs cite must
exist.

Round 1's only documentation defect was a coverage row claiming a function
that did not exist (VERDICT.md "What's wrong" #3). This check makes that
class of drift mechanical to catch:

- every `tests/test_*.py::test_name` referenced in COVERAGE.md / README.md /
  PLANS.md must be a real test function in that file;
- every backticked `queries()` key claimed as a query in COVERAGE.md must
  exist in `__spark_entry__.queries()` (checked against the source, no
  Spark session needed);
- every `module.function` citation of the package (e.g.
  `similarity.sq_topk`, `text.chunk_documents`) must resolve to a real
  attribute;
- every `__spark_entry__.queries()` entry must have an `oracle_sql()`
  counterpart OR an explicit "rows-only" annotation in a comment beside the
  entry (the driver's correctness gate is the oracle; an unannotated
  oracle-less query would silently get only the weak rows-only check).

Runs as a pytest guard too (tests/test_doc_claims.py), failing on planted
drift.

Pure static analysis (ast + regex) — runs in milliseconds, no Spark.
Exit 1 with a list of dangling claims, 0 when clean.
"""

from __future__ import annotations

import ast
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = ["COVERAGE.md", "README.md", "PLANS.md", "BENCH.md", "BASELINE.md"]
PKG = "data_migration_service_spark"


def _defs(path: str) -> set[str]:
    """Top-level function/class names + methods + module-level constants
    (assigned names), one parse, no import — docs legitimately cite
    constants like `merge.PROBE_KEY_CAP`."""
    with open(path) as f:
        tree = ast.parse(f.read())
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.add(node.name)
    for node in tree.body:
        targets = []
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        for t in targets:
            if isinstance(t, ast.Name):
                out.add(t.id)
    return out


def _dict_keys(entry_src: str, fn_name: str) -> set[str]:
    """String keys of the dict literal returned by `fn_name` in the source."""
    tree = ast.parse(entry_src)
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == fn_name:
            keys: set[str] = set()
            for sub in ast.walk(node):
                if isinstance(sub, ast.Dict):
                    for k in sub.keys:
                        if isinstance(k, ast.Constant) and isinstance(k.value, str):
                            keys.add(k.value)
            return keys
    raise AssertionError(f"{fn_name}() not found")


def _rows_only_annotated(entry_src: str, key: str) -> bool:
    """True if the queries() entry for `key` carries a "rows-only" comment
    on its own line or within the 6 lines above it."""
    lines = entry_src.splitlines()
    for i, ln in enumerate(lines):
        if f'"{key}":' in ln:
            window = lines[max(0, i - 6):i + 1]
            return any("rows-only" in w for w in window)
    return False


def oracle_coverage_problems(entry_src: str) -> list[str]:
    """Every queries() key needs an oracle_sql() entry or an explicit
    rows-only annotation; every oracle_sql() key must exist in queries()."""
    q = _dict_keys(entry_src, "queries")
    o = _dict_keys(entry_src, "oracle_sql")
    problems = []
    for k in sorted(q - o):
        if not _rows_only_annotated(entry_src, k):
            problems.append(
                f"__spark_entry__: queries() entry `{k}` has no oracle_sql() "
                f"and no rows-only annotation")
    for k in sorted(o - q):
        problems.append(
            f"__spark_entry__: oracle_sql() entry `{k}` not in queries()")
    return problems


def main() -> int:
    with open(os.path.join(REPO, "__spark_entry__.py")) as f:
        entry_src = f.read()
    problems: list[str] = list(oracle_coverage_problems(entry_src))
    qkeys = _dict_keys(entry_src, "queries")

    # module.function citations like `similarity.sq_topk` / `tables/txn.py`
    mod_defs: dict[str, set[str]] = {}
    for root, _dirs, files in os.walk(os.path.join(REPO, PKG)):
        for fn in files:
            if fn.endswith(".py"):
                p = os.path.join(root, fn)
                mod_defs[os.path.splitext(fn)[0]] = (
                    mod_defs.get(os.path.splitext(fn)[0], set()) | _defs(p))

    test_defs: dict[str, set[str]] = {}
    for fn in os.listdir(os.path.join(REPO, "tests")):
        if fn.startswith("test_") and fn.endswith(".py"):
            test_defs[fn] = _defs(os.path.join(REPO, "tests", fn))

    cite_test = re.compile(r"tests/(test_\w+\.py)::(test_\w+)")
    cite_fn = re.compile(r"`(\w+)\.(\w+)`")
    cite_query = re.compile(r"quer(?:y|ies) `([a-z0-9_]+)`")

    for doc in DOCS:
        path = os.path.join(REPO, doc)
        if not os.path.exists(path):
            continue
        text = open(path).read()
        for m in cite_test.finditer(text):
            fn, tname = m.group(1), m.group(2)
            if fn not in test_defs:
                problems.append(f"{doc}: cites missing test file {fn}")
            elif tname not in test_defs[fn]:
                problems.append(f"{doc}: cites missing {fn}::{tname}")
        for m in cite_fn.finditer(text):
            mod, name = m.group(1), m.group(2)
            if mod in mod_defs and name not in mod_defs[mod] \
                    and not name.startswith(("py", "md")):
                problems.append(f"{doc}: cites `{mod}.{name}` but "
                                f"{mod}.py defines no {name}")
        for m in cite_query.finditer(text):
            if m.group(1) not in qkeys:
                problems.append(
                    f"{doc}: claims query `{m.group(1)}` not in queries()")

    if problems:
        print("\n".join(problems))
        print(f"\n{len(problems)} dangling doc claim(s)")
        return 1
    print(f"doc claims OK: {len(qkeys)} queries, "
          f"{sum(len(v) for v in test_defs.values())} tests, "
          f"{len(mod_defs)} modules checked")
    return 0


if __name__ == "__main__":
    sys.exit(main())
