"""Static checks over scripts/ and the citations that point into it; no
Spark session needed.

- Every repo-local ``from X import name`` in a remaining ``scripts/*.py``
  (the package, ``scripts``, ``tests``, ``bench`` or a sibling script)
  resolves to a module that defines ``name`` — a deleted helper or
  script cannot leave a tool importing it.
- Every ``scripts/…py`` path (or bare ``probe_….py`` name) cited in the
  package, ``tests/`` or ``bench.py`` either exists in ``scripts/`` or
  carries a ``<sha>:`` prefix naming the commit that still has it; when
  git is available the prefixed file must exist at that commit.
"""

import ast
import glob
import os
import re
import shutil
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = os.path.join(REPO, "scripts")
LOCAL_ROOTS = ("agentic_data_pipeline_spark", "scripts", "tests", "bench")


def _module_path(mod: str) -> str | None:
    parts = mod.split(".")
    roots = [REPO] + ([SCRIPTS] if len(parts) == 1 else [])
    for root in roots:
        base = os.path.join(root, *parts)
        for cand in (base + ".py", os.path.join(base, "__init__.py")):
            if os.path.isfile(cand):
                return cand
    return None


def _is_local(mod: str) -> bool:
    return (mod.split(".")[0] in LOCAL_ROOTS
            or os.path.isfile(os.path.join(SCRIPTS, mod + ".py")))


def _defined_names(path: str) -> set[str]:
    """Names bound at module level (descending into if/try blocks, not
    into functions or classes)."""
    names: set[str] = set()

    def visit(body):
        for node in body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                names.add(node.name)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                names.update((a.asname or a.name).split(".")[0]
                             for a in node.names)
            elif isinstance(node, (ast.Assign, ast.AnnAssign,
                                   ast.AugAssign)):
                targets = (node.targets if isinstance(node, ast.Assign)
                           else [node.target])
                for t in targets:
                    names.update(n.id for n in ast.walk(t)
                                 if isinstance(n, ast.Name))
            elif isinstance(node, ast.If):
                visit(node.body)
                visit(node.orelse)
            elif isinstance(node, ast.Try):
                visit(node.body)
                for h in node.handlers:
                    visit(h.body)
                visit(node.orelse)
                visit(node.finalbody)

    with open(path, encoding="utf-8") as f:
        visit(ast.parse(f.read(), path).body)
    return names


def test_script_imports_resolve():
    scripts = sorted(glob.glob(os.path.join(SCRIPTS, "*.py")))
    assert scripts
    bad = []
    for script in scripts:
        with open(script, encoding="utf-8") as f:
            tree = ast.parse(f.read(), script)
        for node in ast.walk(tree):
            if not (isinstance(node, ast.ImportFrom) and node.level == 0
                    and node.module and _is_local(node.module)):
                continue
            where = f"{os.path.basename(script)}:{node.lineno}"
            path = _module_path(node.module)
            if path is None:
                bad.append(f"{where}: no module {node.module}")
                continue
            names = _defined_names(path)
            for alias in node.names:
                if (alias.name not in names
                        and _module_path(f"{node.module}.{alias.name}")
                        is None):
                    bad.append(f"{where}: {node.module} has no "
                               f"{alias.name}")
    assert not bad, "\n".join(bad)


_CITE = re.compile(r"(?:\b([0-9a-f]{7,40}):)?"
                   r"(scripts/[\w/]+\.py|(?<![\w/])probe_\w+\.py)")


def _citations():
    files = (glob.glob(os.path.join(REPO, "agentic_data_pipeline_spark",
                                    "**", "*.py"), recursive=True)
             + glob.glob(os.path.join(REPO, "tests", "*.py"))
             + [os.path.join(REPO, "bench.py")])
    for path in sorted(files):
        with open(path, encoding="utf-8") as f:
            for lineno, line in enumerate(f, 1):
                for m in _CITE.finditer(line):
                    rel = m.group(2)
                    if not rel.startswith("scripts/"):
                        rel = "scripts/" + rel
                    where = f"{os.path.relpath(path, REPO)}:{lineno}"
                    yield where, m.group(1), rel


def test_script_citations_exist_or_name_a_commit():
    cites = list(_citations())
    assert cites
    bad = [f"{where}: {rel} is gone; cite it as <sha>:{rel}"
           for where, sha, rel in cites
           if sha is None and not os.path.isfile(os.path.join(REPO, rel))]
    assert not bad, "\n".join(bad)


def test_commit_prefixed_citations_exist_at_that_commit():
    pinned = sorted({f"{sha}:{rel}" for _, sha, rel in _citations() if sha})
    if not pinned:
        pytest.skip("no commit-prefixed citations")
    if (shutil.which("git") is None
            or not os.path.exists(os.path.join(REPO, ".git"))):
        pytest.skip("not a git checkout")
    out = subprocess.run(["git", "cat-file", "--batch-check"], cwd=REPO,
                         input="\n".join(pinned) + "\n", text=True,
                         capture_output=True, check=True).stdout
    missing = [line.split()[0] for line in out.splitlines()
               if line.endswith(" missing")]
    assert not missing, "\n".join(missing)
