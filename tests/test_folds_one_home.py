"""``functions/folds.py`` is the one home of the order-pinned exact fold:
no other library module builds a key-ordered value list
(``F.array_sort(F.collect_list(F.struct(...)))``, grouped or over a
window) or writes a double left-fold sum (``F.aggregate(x, F.lit(0.0),
<acc + x>)``).  A stdlib-``ast`` scan of the library.

Left alone on purpose, and not matched: integer folds (a ``F.lit(0)`` or
bigint start), the product fold (``F.lit(1.0)``, ``a * b``), and the
bare-value ``F.array_sort(F.collect_list(x))`` lists, which drop NULL
values where the struct form keeps them."""
import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
HOME = REPO / "moonshot_spark" / "functions" / "folds.py"


def _f_call(node, name):
    """Is ``node`` a call of ``F.<name>``?"""
    return (isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == name
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "F")


def _plain_add(node):
    """Is ``node`` ``lambda a, b: a + b``?"""
    if not (isinstance(node, ast.Lambda) and len(node.args.args) == 2
            and isinstance(node.body, ast.BinOp)
            and isinstance(node.body.op, ast.Add)):
        return False
    operands = [node.body.left, node.body.right]
    return (all(isinstance(o, ast.Name) for o in operands)
            and [o.id for o in operands] == [a.arg for a in node.args.args])


def _double_zero(node):
    return (_f_call(node, "lit") and len(node.args) == 1
            and isinstance(node.args[0], ast.Constant)
            and type(node.args[0].value) is float
            and node.args[0].value == 0.0)


def fold_copies(path):
    """(line, what) of each hand-written ordered list or double fold."""
    tree = ast.parse(path.read_text())
    # names bound to a plain-add lambda (``add = lambda a, b: a + b``)
    adders = {t.id for node in ast.walk(tree)
              if isinstance(node, ast.Assign) and _plain_add(node.value)
              for t in node.targets if isinstance(t, ast.Name)}
    found = []
    for node in ast.walk(tree):
        if _f_call(node, "array_sort") and node.args:
            listed = node.args[0]
            if (isinstance(listed, ast.Call)
                    and isinstance(listed.func, ast.Attribute)
                    and listed.func.attr == "over"):
                listed = listed.func.value
            if (_f_call(listed, "collect_list") and listed.args
                    and _f_call(listed.args[0], "struct")):
                found.append((node.lineno, "key-ordered list"))
        if (_f_call(node, "aggregate") and len(node.args) >= 3
                and _double_zero(node.args[1])
                and (_plain_add(node.args[2])
                     or (isinstance(node.args[2], ast.Name)
                         and node.args[2].id in adders))):
            found.append((node.lineno, "double left-fold sum"))
    return sorted(found)


def test_scan_finds_each_spelling(tmp_path):
    src = tmp_path / "copies.py"
    src.write_text(
        "from pyspark.sql import functions as F\n"
        "a = F.array_sort(F.collect_list(F.struct('k', 'v')))\n"
        "b = F.array_sort(F.collect_list(F.struct('k', 'v')).over(w))\n"
        "c = F.aggregate('xs', F.lit(0.0), lambda p, q: p + q)\n"
        "add = lambda a, b: a + b\n"
        "d = F.aggregate('xs', F.lit(0.0), add)\n"
        # not copies: bare-value list, integer fold, product fold
        "e = F.array_sort(F.collect_list('v'))\n"
        "f = F.aggregate('xs', F.lit(0), lambda p, q: p + q)\n"
        "g = F.aggregate('xs', F.lit(1.0), lambda p, q: p * q)\n")
    assert fold_copies(src) == [
        (2, "key-ordered list"), (3, "key-ordered list"),
        (4, "double left-fold sum"), (6, "double left-fold sum")]


def test_folds_have_one_home():
    offenders = [f"{path.relative_to(REPO)}:{line}: {what}"
                 for path in sorted((REPO / "moonshot_spark").rglob("*.py"))
                 if path != HOME
                 for line, what in fold_copies(path)]
    assert not offenders, (
        "build these through moonshot_spark/functions/folds.py "
        "(ordered_values / fold_sum / fold_sum_exact):\n"
        + "\n".join(offenders))
