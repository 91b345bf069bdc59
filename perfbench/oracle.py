"""Independent correctness checks.

The ETL workloads are checked against DuckDB: it computes the expected
output and the expected post-upsert tables from the same input files once
per input set, and reads the engine's committed output files after every
pass. The curation workload is checked against the generator's planted
ground truth in plain Python over pyarrow reads.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

STAR_AGG_SQL = """
SELECT c.nation, c.segment, o.priority,
       COUNT(*) AS n_lines,
       SUM(f.qty) AS qty,
       SUM(f.price_cents * (100 - f.discount_pct)) AS net_x100,
       MAX(o.total_cents) AS max_total_cents
FROM fact f
JOIN orders o ON f.order_id = o.order_id
JOIN customer c ON o.customer_id = c.customer_id
WHERE o.status <> 'P'
GROUP BY c.nation, c.segment, o.priority
"""

ENRICH_SQL = """
SELECT f.line_id, f.order_id, f.part_id, f.qty, f.price_cents, f.discount_pct,
       o.customer_id, o.priority, c.nation, c.segment, f.ship_day
FROM fact f
JOIN orders o ON f.order_id = o.order_id
JOIN customer c ON o.customer_id = c.customer_id
WHERE f.ship_day >= {first_day}
"""

# Row fingerprint over explicitly typed columns, so files written by either
# engine hash alike.
_ENRICHED_HASH = (
    "hash(line_id::BIGINT, order_id::BIGINT, part_id::BIGINT, qty::INTEGER, "
    "price_cents::BIGINT, discount_pct::INTEGER, customer_id::BIGINT, "
    "priority::VARCHAR, nation::VARCHAR, segment::VARCHAR)"
)
_ORDERS_HASH = (
    "hash(order_id::BIGINT, customer_id::BIGINT, priority::VARCHAR, status::VARCHAR, "
    "total_cents::BIGINT, order_day::INTEGER)"
)


def _con(inputs: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ("fact", "orders", "customer", "orders_batch"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}/*.parquet')")
    return con


def _rows(con: duckdb.DuckDBPyConnection, sql: str) -> list[list]:
    """Rows as lists, so they compare equal to their JSON round trip."""
    return [list(r) for r in con.execute(sql).fetchall()]


def _day_fingerprint(con: duckdb.DuckDBPyConnection, source: str) -> list[list]:
    return _rows(con, f"""
        SELECT ship_day::INTEGER AS d, COUNT(*), SUM({_ENRICHED_HASH})::VARCHAR
        FROM {source} GROUP BY 1 ORDER BY 1""")


def _orders_fingerprint(con: duckdb.DuckDBPyConnection, source: str) -> list:
    return _rows(con, f"SELECT COUNT(*), SUM({_ORDERS_HASH})::VARCHAR FROM {source}")[0]


def _read_partitioned(path: str) -> str:
    return (f"read_parquet('{path}/*/*.parquet', hive_partitioning = true, "
            f"union_by_name = true)")


def prepare_etl(inputs: str, manifest: dict) -> dict:
    """Expected outputs of both ETL workloads plus the pristine upsert
    targets, computed by DuckDB once per input set and cached beside it."""
    path = os.path.join(inputs, "expected-etl.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = _con(inputs)
    first = manifest["first_refresh_day"]
    expected = {"star_agg": _rows(con, STAR_AGG_SQL + " ORDER BY 1, 2, 3")}
    # Pristine partitioned target: every day holds a stale version (qty + 1)
    # of the enriched rows; the incremental job must replace exactly the
    # days it covers and leave the others as they were.
    pristine = os.path.join(inputs, "pristine_enriched.tmp")
    stale = ENRICH_SQL.format(first_day=0).replace("f.qty,", "f.qty + 1 AS qty,")
    con.execute(f"COPY ({stale}) TO '{pristine}' (FORMAT PARQUET, PARTITION_BY (ship_day))")
    fresh = ENRICH_SQL.format(first_day=first)
    con.execute(f"CREATE VIEW expected_enriched AS "
                f"SELECT * FROM {_read_partitioned(pristine)} WHERE ship_day < {first} "
                f"UNION ALL BY NAME SELECT * FROM ({fresh})")
    expected["enriched_days"] = _day_fingerprint(con, "expected_enriched")
    expected["orders_after_upsert"] = _orders_fingerprint(con, """(
        SELECT * FROM orders WHERE order_id NOT IN (SELECT order_id FROM orders_batch)
        UNION ALL SELECT * FROM orders_batch)""")
    con.close()
    os.rename(pristine, os.path.join(inputs, "pristine_enriched"))
    with open(path, "w") as f:
        json.dump(expected, f)
    return expected


def check_star_agg(out: str, expected: dict) -> dict:
    con = duckdb.connect()
    rows = _rows(con, f"SELECT * FROM read_parquet('{out}/*.parquet') ORDER BY 1, 2, 3")
    con.close()
    if rows != expected["star_agg"]:
        raise AssertionError(f"star_agg output differs from DuckDB ({len(rows)} rows vs "
                             f"{len(expected['star_agg'])})")
    return {"rows": len(rows)}


def _inodes(path: str) -> set[tuple[str, int]]:
    return {(n, os.stat(os.path.join(path, n)).st_ino) for n in os.listdir(path)}


def check_upsert(enriched: str, orders: str, pristine: str, first_day: int,
                 expected: dict) -> dict:
    """Days before ``first_day`` must still be the pristine files (the run
    restores them as hard links, so the inodes must match); the rewritten
    days and the upserted table must match DuckDB's fingerprints."""
    want_dirs = sorted(d for d in os.listdir(pristine) if "=" in d)
    if sorted(d for d in os.listdir(enriched) if "=" in d) != want_dirs:
        raise AssertionError("partition directories differ from the expected day set")
    for d in want_dirs:
        if int(d.split("=")[1]) < first_day and \
                _inodes(os.path.join(enriched, d)) != _inodes(os.path.join(pristine, d)):
            raise AssertionError(f"untouched partition {d} was modified")
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    days = _day_fingerprint(con, f"(SELECT * FROM {_read_partitioned(enriched)} "
                                 f"WHERE ship_day >= {first_day})")
    merged = _orders_fingerprint(con, f"read_parquet('{orders}/*.parquet')")
    con.close()
    want = [r for r in expected["enriched_days"] if r[0] >= first_day]
    if days != want:
        bad = [a[0] for a, b in zip(days, want) if a != b]
        raise AssertionError(f"rewritten days differ from DuckDB: {bad[:5]} ({len(days)} days)")
    if merged != expected["orders_after_upsert"]:
        raise AssertionError(f"upserted table {merged} != DuckDB {expected['orders_after_upsert']}")
    return {"rows": sum(r[1] for r in expected["enriched_days"]) + merged[0]}


# Floors for the probabilistic LSH stages, far below what the planted
# structure yields (recall is deterministic per seed; see gen.py).
CLUSTER_RECALL_FLOOR = 0.9
VECTOR_RECALL_FLOOR = 0.8


def check_curation(out: str, manifest: dict, doc_ids: np.ndarray) -> dict:
    """Check the curation outputs against the planted ground truth."""
    kept = np.sort(pq.read_table(os.path.join(out, "kept")).column("doc_id").to_numpy())
    if len(np.unique(kept)) != len(kept):
        raise AssertionError("kept ids are not unique")
    low = set(manifest["low_quality_ids"])
    kept_set = set(kept.tolist())
    if kept_set & low:
        raise AssertionError("a low-quality doc survived the quality filter")
    good = set(doc_ids.tolist()) - low
    if not kept_set <= good:
        raise AssertionError("kept ids include unknown docs")
    cluster_of = {d: i for i, c in enumerate(manifest["clusters"]) for d in c}
    removed = good - kept_set
    for d in removed:
        c = cluster_of.get(d)
        if c is None or not any(k < d and k in kept_set for k in manifest["clusters"][c]):
            raise AssertionError(f"doc {d} was removed without a kept smaller-id partner")
    planted = sum(len(c) - 1 for c in manifest["clusters"])
    recall = len(removed) / planted
    if recall < CLUSTER_RECALL_FLOOR:
        raise AssertionError(f"planted-cluster recall {recall:.3f} < {CLUSTER_RECALL_FLOOR}")

    pairs = pq.read_table(os.path.join(out, "vec_pairs")).to_pandas()
    found = set(zip(pairs["vec_a"].tolist(), pairs["vec_b"].tolist()))
    truth = {tuple(p) for p in manifest["vec_pairs"]}
    if len(found) != len(pairs) or not found <= truth:
        raise AssertionError("embedding pairs include duplicates or unplanted pairs")
    vec_recall = len(found) / len(truth)
    if vec_recall < VECTOR_RECALL_FLOOR:
        raise AssertionError(f"embedding-pair recall {vec_recall:.3f} < {VECTOR_RECALL_FLOOR}")

    feats = pq.read_table(os.path.join(out, "image_features")).to_pandas()
    truth_img = manifest["images"]
    if len(feats) != len(truth_img) or feats["doc_id"].nunique() != len(truth_img):
        raise AssertionError(f"{len(feats)} image feature rows for {len(truth_img)} images")
    for d, w, h, luma in zip(feats["doc_id"], feats["width"], feats["height"], feats["mean_luma"]):
        tw, th, tl = truth_img[str(int(d))]
        if (w, h) != (tw, th) or abs(luma - tl) > 1e-9:
            raise AssertionError(f"image {d}: decoded {w}x{h} luma {luma}, expected {tw}x{th} {tl}")
    return {
        "rows": len(kept) + len(pairs) + len(feats),
        "kept_hash": hashlib.sha256(kept.tobytes()).hexdigest(),
        "planted_recall": recall,
        "vec_pairs": len(found),
    }
