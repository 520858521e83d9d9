"""No module imports a name it never uses (no linter is installed, so the
check is a stdlib-``ast`` scan of the library, the tools and bench.py).

Package ``__init__.py`` files are exempt (they re-export), as are names
listed in ``__all__`` and ``from __future__`` imports."""
import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent


def _sources():
    yield from sorted((REPO / "moonshot_spark").rglob("*.py"))
    yield from sorted((REPO / "tools").glob("*.py"))
    yield REPO / "bench.py"


def _string_annotation_names(node):
    """Names read by quoted annotations, which ``ast`` keeps as strings."""
    annotations = []
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
        annotations.append(node.returns)
    elif isinstance(node, ast.arg):
        annotations.append(node.annotation)
    elif isinstance(node, ast.AnnAssign):
        annotations.append(node.annotation)
    for ann in annotations:
        if isinstance(ann, ast.Constant) and isinstance(ann.value, str):
            for sub in ast.walk(ast.parse(ann.value, mode="eval")):
                if isinstance(sub, ast.Name):
                    yield sub.id


def unused_imports(path):
    """(line, name) of each top-level import ``path`` never reads."""
    tree = ast.parse(path.read_text())
    imported = {}
    exported = set()
    for node in tree.body:
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                name = alias.asname or alias.name.split(".")[0]
                imported[name] = node.lineno
        elif (isinstance(node, ast.Assign)
              and any(isinstance(t, ast.Name) and t.id == "__all__"
                      for t in node.targets)):
            exported |= set(ast.literal_eval(node.value))
    used = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        used.update(_string_annotation_names(node))
    return sorted((line, name) for name, line in imported.items()
                  if name not in used and name not in exported)


def test_no_unused_top_level_imports():
    offenders = [f"{path.relative_to(REPO)}:{line}: {name}"
                 for path in _sources() if path.name != "__init__.py"
                 for line, name in unused_imports(path)]
    assert not offenders, "\n".join(offenders)
