"""Structural guards for the text verbs.

ext.text is the one Spark home of the stopword lexicons, the lexicon-hit
count, the argmax language prediction, the Gopher and PII gates and the
normalized-content hash. Registry entries under queries/ and the streaming
gates under streaming/ call those with fixed parameters; the registry keeps
only the DuckDB oracle SQL. So a Spark copy of any piece must not reappear
in those two packages, and no library module may import the registry (same
style as tests/test_minhash_structure.py).
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "glue_etl_framework_spark"

# Spark-API spellings of each piece; the oracle SQL builders use DuckDB
# syntax (list_filter(... list_contains(...)), regexp_replace(lower(text),
# ...)) and an f-string CASE chain, and never match.
TEXT_PIECES = {
    "lexicon-hit filter": re.compile(r"F\.filter\(.*array_contains\("),
    # pairwise >= over one score dict, or a greatest() over a spread of scores
    "argmax-language chain": re.compile(r"\b(\w+)\[\w+\]\s*>=\s*\1\[\w+\]|F\.greatest\(\*"),
    "normalized hash": re.compile(r"regexp_replace\(F\.lower\("),
}
REGISTRY_IMPORT = re.compile(
    r"^\s*(?:from\s+glue_etl_framework_spark\.queries\b"
    r"|import\s+glue_etl_framework_spark\.queries\b"
    r"|from\s+glue_etl_framework_spark\s+import\s+.*\bqueries\b)"
)
LANG_CODE = re.compile(r"^[a-z]{2}$")


def _code_lines(path: Path):
    for i, line in enumerate(path.read_text().splitlines(), 1):
        yield i, line.split("#", 1)[0]


def _is_lexicon_dict(node: ast.AST) -> bool:
    """A dict literal mapping language codes to lists of words."""
    return (
        isinstance(node, ast.Dict)
        and bool(node.keys)
        and all(
            isinstance(k, ast.Constant) and isinstance(k.value, str) and LANG_CODE.match(k.value)
            for k in node.keys
        )
        and all(
            isinstance(v, ast.List)
            and all(isinstance(e, ast.Constant) and isinstance(e.value, str) for e in v.elts)
            for v in node.values
        )
    )


def text_copies(package: Path) -> list[str]:
    found = []
    for sub in ("queries", "streaming"):
        for path in sorted((package / sub).glob("*.py")):
            rel = path.relative_to(package)
            for node in ast.walk(ast.parse(path.read_text())):
                if _is_lexicon_dict(node):
                    found.append(f"{rel}:{node.lineno} defines a stopword lexicon dict")
            for i, code in _code_lines(path):
                for piece, pat in TEXT_PIECES.items():
                    if pat.search(code):
                        found.append(f"{rel}:{i} builds the {piece}")
    return found


def registry_imports(package: Path) -> list[str]:
    return [
        f"{path.relative_to(package)}:{i} imports the registry"
        for path in sorted(package.rglob("*.py"))
        if path.relative_to(package).parts[0] != "queries"
        for i, code in _code_lines(path)
        if REGISTRY_IMPORT.search(code)
    ]


def test_registry_and_streaming_build_no_text_pieces():
    copies = text_copies(PACKAGE)
    assert not copies, (
        "text verbs belong in ext.text; call them with fixed parameters "
        "instead:\n" + "\n".join(copies)
    )


def test_no_library_module_imports_the_registry():
    imports = registry_imports(PACKAGE)
    assert not imports, "\n".join(imports)


def test_guard_flags_a_copy(tmp_path):
    """The guard catches each spelling it names: a planted copy of every
    piece in a scratch package is flagged once."""
    for sub in ("queries", "streaming", "ext"):
        (tmp_path / sub).mkdir()
    (tmp_path / "queries" / "copy.py").write_text(
        'LEX = {"en": ["the", "a"], "fr": ["le"]}\n'
        "hits = F.size(F.filter(w, lambda x: F.array_contains(lex, x)))\n"
        "c = hits[lg] >= hits[other]\n"
        'norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\\s+", " "))\n'
    )
    (tmp_path / "ext" / "lib.py").write_text(
        "from glue_etl_framework_spark.queries.llmops import gopher_audit_cols\n"
    )
    assert len(text_copies(tmp_path)) == 4
    assert registry_imports(tmp_path) == ["ext/lib.py:1 imports the registry"]
