"""Every evidence pointer resolves.

The library, the tools, the tests, bench.py, README.md, COVERAGE.md and
PERF.md name repo files (``plans/zorder.py``, ``tools/measure.py``,
``BENCH_DETAIL.json``) and sometimes a definition in one
(``datapipe/graph.py::duplicate_clusters``).  Each such path must exist,
resolved against the repo root or against ``moonshot_spark/``, and each
named definition must be in its file.  A Python file that cites PERF.md
quotes the start of the heading it means — ``PERF.md "Cross-engine float
rules"`` — and that heading must exist.

CHANGES.md, ROADMAP.md, VERDICT.md, SURVEY.md and PROGRESS.jsonl are
historical records, not scanned: they name files as they were."""
import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "moonshot_spark"
BASES = (REPO, PKG)
EXT = r"\.(?:py|md|json|jsonl|txt|toml|sh)"


def _sources():
    for top in ("moonshot_spark", "tools", "tests"):
        yield from sorted((REPO / top).rglob("*.py"))
    yield REPO / "bench.py"
    for doc in ("README.md", "COVERAGE.md", "PERF.md"):
        yield REPO / doc


def _code_dirs():
    """Directories a relative path may start with: those of the repo
    root and of ``moonshot_spark/`` that hold Python files."""
    return sorted({d.name for base in BASES for d in base.iterdir()
                   if d.is_dir() and not d.name.startswith(".")
                   and any(d.rglob("*.py"))})


def _resolve(path):
    """The file ``path`` names, or None.  A glob or ``{a,b}`` pattern
    resolves when something matches it."""
    pattern = re.sub(r"\{[^}]*\}", "*", path)
    for base in BASES:
        hits = sorted(base.glob(pattern)) if "*" in pattern else (
            [base / path] if (base / path).exists() else [])
        if hits:
            return hits[0]
    return None


def _defines(path, name):
    return re.search(rf"^\s*(?:def|class)\s+{name}\b|^{name}\s*[:=]",
                     path.read_text(), re.M) is not None


def dangling_paths():
    """``file:line: pointer`` for each path or definition that does not
    resolve."""
    dirs = "|".join(map(re.escape, _code_dirs()))
    # a relative path under a code directory, maybe with ::definition
    nested = re.compile(rf"(?<![\w./{{}}$-])((?:{dirs})/[\w./*{{}},-]*?"
                        rf"(?:{EXT}|/))(?![\w.])(?:::(\w+))?")
    # an upper-case top-level record: BENCH_DETAIL.json, SCALE.md
    top = re.compile(rf"(?<![\w./{{}}$-])([A-Z][A-Z0-9]*_?[\w.*]*?{EXT})"
                     rf"(?![\w.])")
    out = []
    for src in _sources():
        for n, line in enumerate(src.read_text().splitlines(), 1):
            where = f"{src.relative_to(REPO)}:{n}"
            for m in nested.finditer(line):
                hit = _resolve(m.group(1))
                if hit is None or (m.group(2) and hit.is_file()
                                   and not _defines(hit, m.group(2))):
                    out.append(f"{where}: {m.group(0)}")
            for m in top.finditer(line):
                if not list(REPO.glob(m.group(1))):
                    out.append(f"{where}: {m.group(1)}")
    return out


# what follows a citation: an optional comma, then the quoted heading
_QUOTED = re.compile(r',?\s*"([^"]+)"')


def _perf_headings():
    return [re.sub(r"\s+", " ", line.lstrip("#").strip())
            for line in (REPO / "PERF.md").read_text().splitlines()
            if line.startswith("#")]


def unresolved_perf_citations():
    """``file: citation`` for each PERF.md mention in Python (outside
    this file, which describes the rule) that is not followed by a
    quoted prefix of a PERF.md heading."""
    headings = _perf_headings()
    out = []
    for src in _sources():
        if src.suffix != ".py" or src == pathlib.Path(__file__).resolve():
            continue
        # join wrapped comment and docstring lines into one run of text
        text = re.sub(r"\s*\n\s*(?:#\s*)?", " ", src.read_text())
        for m in re.finditer(r"PERF\.md", text):
            quoted = _QUOTED.match(text, m.end())
            if not (quoted and any(h.startswith(quoted.group(1))
                                   for h in headings)):
                out.append(f"{src.relative_to(REPO)}: "
                           f"{text[m.start():m.end() + 50]}")
    return out


def test_every_repo_path_named_exists():
    dangling = dangling_paths()
    assert not dangling, "\n".join(dangling)


def test_every_perf_md_citation_names_a_heading():
    unresolved = unresolved_perf_citations()
    assert not unresolved, "\n".join(unresolved)
