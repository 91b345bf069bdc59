"""Structural guards for the vector-similarity path.

ext.similarity is the one home of exact quantized cosine, brute-force
top-k, IVF and banded hyperplane LSH. Registry entries under queries/
call those pieces with fixed parameters and keep only their DuckDB oracle
SQL, so a second Spark copy of any piece must not reappear there (same
style as tests/test_minhash_structure.py).
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

from pyspark.sql import functions as F

from glue_etl_framework_spark.ext import similarity as S
from tests.conftest import SF_SMOKE

PACKAGE = Path(__file__).resolve().parents[1] / "glue_etl_framework_spark"

# Spark-API spellings of each piece; the oracle SQL builders use DuckDB
# syntax (list_sum(list_transform(...)), a.band0 = b.band0) and never
# match. The multi-probe entry's probe join passes a select, not a bare
# frame name, and is not a band self-join.
SIMILARITY_PIECES = {
    "quantized dot/cosine": re.compile(r"\b_dot\(|zip_with\(.*lambda (\w+), (\w+): \1 \* \2\b"),
    "hyperplane band values": re.compile(
        r"band_value_sql\(|aggregate\(zip_with\(|posexplode\(.*\"bidx\", \"bv\"\)"
    ),
    "band self-join": re.compile(r"\.join\(\w+, \[[^\]]*\"bidx\", \"bv\"\]\)"),
}
PYSPARK_ML = re.compile(r"^\s*(?:from|import)\s+pyspark\.ml\b")
RAW_CHECKPOINT = re.compile(r"\.localCheckpoint\(")


def _code_lines(path: Path):
    for i, line in enumerate(path.read_text().splitlines(), 1):
        yield i, line.split("#", 1)[0]


def similarity_copies(package: Path) -> list[str]:
    found = []
    for path in sorted((package / "queries").glob("*.py")):
        for i, code in _code_lines(path):
            for piece, pat in SIMILARITY_PIECES.items():
                if pat.search(code):
                    found.append(f"{path.name}:{i} builds a {piece}")
    return found


def pyspark_ml_imports(package: Path) -> list[str]:
    return [
        f"{path.relative_to(package)}:{i}"
        for path in sorted(package.rglob("*.py"))
        for i, code in _code_lines(path)
        if PYSPARK_ML.search(code)
    ]


def raw_checkpoints(package: Path) -> list[str]:
    return [
        f"{rel}:{i}"
        for rel in ("ext/similarity.py", "queries/similarity.py")
        for i, code in _code_lines(package / rel)
        if RAW_CHECKPOINT.search(code)
    ]


# The connected-components functions of ext/dedup.py: every checkpoint
# there is a data-sized dup-graph frame and goes through checkpoint_shared.
CC_FUNCTIONS = (
    "connected_component_labels", "_graph_labels", "dedup_keep_representative",
    "connected_component_labels_twophase", "_star_labels", "_label_all_nodes",
    "_symmetrize", "_large_star", "_small_star",
)


def raw_cc_checkpoints(package: Path) -> list[str]:
    path = package / "ext" / "dedup.py"
    lines = dict(_code_lines(path))
    funcs = {
        node.name: node
        for node in ast.parse(path.read_text()).body
        if isinstance(node, ast.FunctionDef) and node.name in CC_FUNCTIONS
    }
    assert sorted(funcs) == sorted(CC_FUNCTIONS), "CC_FUNCTIONS is stale"
    return [
        f"ext/dedup.py:{i} ({name})"
        for name, node in funcs.items()
        for i in range(node.lineno, node.end_lineno + 1)
        if RAW_CHECKPOINT.search(lines[i])
    ]


def test_queries_build_no_similarity_pieces():
    copies = similarity_copies(PACKAGE)
    assert not copies, (
        "similarity pieces belong in ext.similarity; call them from the "
        "registry entry instead:\n" + "\n".join(copies)
    )


def test_no_module_imports_pyspark_ml():
    assert not pyspark_ml_imports(PACKAGE)


def test_similarity_modules_checkpoint_through_ckpt():
    """Every checkpoint states its size class via ckpt.checkpoint_shared."""
    assert not raw_checkpoints(PACKAGE)


def test_connected_components_checkpoint_through_ckpt():
    """The CC rounds, edge sets and star contraction state their size
    class via ckpt.checkpoint_shared, never a raw localCheckpoint."""
    assert not raw_cc_checkpoints(PACKAGE)


def test_library_topk_matches_registry_entries(spark):
    """The registry entries are fixed-parameter calls: the library
    functions at those parameters return exactly the entries' rows."""
    from glue_etl_framework_spark.queries import load_registry
    from glue_etl_framework_spark.queries.similarity import (
        N_CENTROIDS,
        N_PROBE,
        N_QUERIES,
        TOP_K,
    )

    reg = load_registry()
    v = S.quantize_embeddings(spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet"))
    queries = v.filter(F.col("vec_id") < N_QUERIES)
    library = {
        "similarity_topk_bruteforce": S.brute_force_topk(v, queries, k=TOP_K),
        "similarity_ann_ivf": S.ivf_topk(
            v, queries, k=TOP_K, n_probe=N_PROBE, n_centroids=N_CENTROIDS
        ),
    }
    for name, df in library.items():
        got = sorted(tuple(r) for r in df.collect())
        want = sorted(tuple(r) for r in reg[name].fn(spark, SF_SMOKE).collect())
        assert got and got == want, name
