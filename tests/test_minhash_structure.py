"""Structural guards for the banded-MinHash path.

ext.dedup is the one home of banded MinHash: shingling, signatures, band
keys, the band join and the exact-Jaccard token verify. Registry entries
under queries/ call those pieces and keep only their DuckDB oracle SQL, so
a second Spark copy of any piece must not reappear there (same style as
the persist() ban in test_r16_optimizations.py).
"""

from __future__ import annotations

import re
from pathlib import Path

import duckdb
import pytest

from tests.conftest import SF_SMOKE

QUERIES = Path(__file__).resolve().parents[1] / "glue_etl_framework_spark" / "queries"

# Spark-API spellings of each piece; the oracle SQL builders use SQL
# syntax (min(substr(...)), md5('x:' || shingle), a.bh = b.bh) and never
# match.
MINHASH_PIECES = {
    "shingle regex": re.compile(r"\(\?<=\^\| \)"),
    "signature aggregate": re.compile(r"F\.min\(\s*F\.substring\(|F\.lit\(\"x:\"\)"),
    "band key": re.compile(r"xxhash64\(\s*F\.concat\(\s*F\.col\(f\"s\{"),
    "band join": re.compile(r"F\.col\(\"\w+\.bh\"\)"),
    "token verify": re.compile(r"xxhash64\(\"shingle\"\)\.alias\(\"tok\"\)"),
}


def minhash_copies(qdir: Path) -> list[str]:
    found = []
    for path in sorted(qdir.glob("*.py")):
        for i, line in enumerate(path.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            for piece, pat in MINHASH_PIECES.items():
                if pat.search(code):
                    found.append(f"{path.name}:{i} builds a {piece}")
    return found


def test_queries_build_no_minhash_pieces():
    copies = minhash_copies(QUERIES)
    assert not copies, (
        "MinHash pieces belong in ext.dedup; call them from the registry "
        "entry instead:\n" + "\n".join(copies)
    )


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, str(Path(SF_SMOKE).with_name("sf0.1"))])
def test_documents_doc_id_unique(sf_dir):
    """dedup_minhash_against_corpus fuses signatures, sizes and source
    into one per-doc aggregate (max(source) per doc_id); that is exact only
    while each doc_id has one row, hence one source."""
    n, n_ids = duckdb.sql(
        "SELECT count(*), count(DISTINCT doc_id) FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()
    assert n > 0 and n == n_ids
