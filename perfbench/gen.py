"""Seeded input generator for the benchmark workloads.

Inputs are built with numpy and pyarrow only; the engine's own codecs are
used just to encode image payloads. Everything is a pure function of
(workload family, seed, scale): the same arguments write the same bytes.

Two families:

- ``etl``: a star schema (fact lines, orders, customers) written as many
  parquet files with several row groups each, so every scan stage splits
  into several tasks per slot. The upsert workload also gets a changed-key
  batch for the orders table.
- ``llm``: a text corpus with planted near-duplicate clusters and planted
  low-quality docs, 64-dim embeddings with planted neighbour groups, and
  BMP/PNG payloads on a subset of docs with known dimensions and luma.

``generate(family, seed, scale, out_dir)`` writes the files plus a
``manifest.json`` holding the planted ground truth and input sizes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per scale. "full" is what the timed runs use; "tiny" serves the
# self-test. Sizes are chosen so one warm pass is several seconds of scan,
# shuffle and write work on local[4], not sub-second scheduling.
SCALES = {
    "full": {
        "etl": dict(customers=40_000, orders=600_000, lines=3_000_000, days=60,
                    fact_files=24, fact_row_groups=4, dim_files=6, upsert_frac=0.08,
                    new_orders=25_000),
        "llm": dict(base_docs=2_400, clusters=200, chains=40, max_cluster=5, low_quality=240,
                    words=(40, 80), vocab=200_000, vectors=3_500, vec_groups=150,
                    images=200, doc_files=16, doc_row_groups=2),
    },
    "tiny": {
        "etl": dict(customers=2_000, orders=20_000, lines=60_000, days=12,
                    fact_files=4, fact_row_groups=2, dim_files=2, upsert_frac=0.08,
                    new_orders=500),
        "llm": dict(base_docs=1_200, clusters=80, chains=16, max_cluster=4, low_quality=100,
                    words=(30, 50), vocab=50_000, vectors=1_500, vec_groups=60,
                    images=80, doc_files=4, doc_row_groups=2),
    },
}

NATIONS = [f"NATION_{i:02d}" for i in range(25)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]

# Quality filter the curation pass applies (and the generator plants against).
MIN_WORDS = 20
MIN_DIVERSITY = 0.5
MAX_PUNCT = 0.05

# Words replaced per hop of a planted chain (see _gen_llm).
CHAIN_SUBS = 5


def _write_split(table: pa.Table, directory: str, n_files: int, row_groups: int) -> None:
    """Write ``table`` as ``n_files`` parquet files of ``row_groups`` row
    groups each."""
    os.makedirs(directory, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, n_files + 1).astype(np.int64)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        rg = max(1, -(-part.num_rows // row_groups))
        pq.write_table(part, os.path.join(directory, f"part-{i:04d}.parquet"),
                       row_group_size=rg, compression="snappy")


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _gen_etl(rng: np.random.Generator, p: dict, out: str) -> dict:
    n_c, n_o, n_l, days = p["customers"], p["orders"], p["lines"], p["days"]
    customer = pa.table({
        "customer_id": np.arange(1, n_c + 1, dtype=np.int64),
        "nation": pa.array(np.array(NATIONS)[rng.integers(0, len(NATIONS), n_c)]),
        "segment": pa.array(np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), n_c)]),
        "acctbal_cents": rng.integers(-99_999, 999_999, n_c, dtype=np.int64),
    })
    order_ids = rng.permutation(np.arange(1, n_o + 1, dtype=np.int64)) * 7 + 3
    orders = pa.table({
        "order_id": order_ids,
        "customer_id": rng.integers(1, n_c + 1, n_o, dtype=np.int64),
        "priority": pa.array(np.array(PRIORITIES)[rng.integers(0, len(PRIORITIES), n_o)]),
        "status": pa.array(np.array(STATUSES)[rng.integers(0, len(STATUSES), n_o)]),
        "total_cents": rng.integers(100, 50_000_000, n_o, dtype=np.int64),
        "order_day": rng.integers(0, days, n_o, dtype=np.int32),
    })
    fact = pa.table({
        "line_id": np.arange(1, n_l + 1, dtype=np.int64),
        "order_id": order_ids[rng.integers(0, n_o, n_l)],
        "part_id": rng.integers(1, 200_000, n_l, dtype=np.int64),
        "qty": rng.integers(1, 51, n_l, dtype=np.int32),
        "price_cents": rng.integers(100, 1_000_000, n_l, dtype=np.int64),
        "discount_pct": rng.integers(0, 11, n_l, dtype=np.int32),
        "ship_day": rng.integers(0, days, n_l, dtype=np.int32),
    })
    _write_split(customer, os.path.join(out, "customer"), p["dim_files"], 2)
    _write_split(orders, os.path.join(out, "orders"), p["dim_files"], 2)
    _write_split(fact, os.path.join(out, "fact"), p["fact_files"], p["fact_row_groups"])

    # Changed-key batch for the key-level upsert into the orders table:
    # a slice of existing orders with a new status/total, plus new keys.
    n_upd = int(n_o * p["upsert_frac"])
    pick = np.sort(rng.choice(n_o, n_upd, replace=False))
    new_ids = np.arange(n_o + 1, n_o + 1 + p["new_orders"], dtype=np.int64) * 7 + 3
    n_new = len(new_ids)
    batch = pa.table({
        "order_id": np.concatenate([order_ids[pick], new_ids]),
        "customer_id": np.concatenate([
            orders["customer_id"].to_numpy()[pick],
            rng.integers(1, n_c + 1, n_new, dtype=np.int64)]),
        "priority": pa.array(np.array(PRIORITIES)[rng.integers(0, len(PRIORITIES), n_upd + n_new)]),
        "status": pa.array(np.array(STATUSES)[rng.integers(0, len(STATUSES), n_upd + n_new)]),
        "total_cents": rng.integers(100, 50_000_000, n_upd + n_new, dtype=np.int64),
        "order_day": rng.integers(0, days, n_upd + n_new, dtype=np.int32),
    })
    _write_split(batch, os.path.join(out, "orders_batch"), 2, 1)
    return {
        "rows": {"customer": n_c, "orders": n_o, "fact": n_l, "orders_batch": batch.num_rows},
        "days": days,
        # The incremental job rewrites the most recent quarter of the days.
        "first_refresh_day": days - days // 4,
    }


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    """A flat vocabulary of distinct lowercase pseudo-words, so base docs
    share almost no word 3-grams and only planted clusters collide."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    words: set[str] = set()
    while len(words) < size:
        lens = rng.integers(4, 10, size)
        codes = letters[rng.integers(0, 26, (size, 9))]
        for row, ln in zip(codes, lens):
            words.add(row[:ln].tobytes().decode())
            if len(words) == size:
                break
    return np.array(sorted(words))


def _image(rng: np.random.Generator, fmt: str) -> tuple[bytes, int, int, float]:
    from glue_etl_framework_spark.ext.media_codecs import encode_bmp
    from glue_etl_framework_spark.ext.png_py import encode_png

    w, h = int(rng.integers(16, 49)), int(rng.integers(16, 49))
    base = rng.integers(0, 256, 3)
    grad = (np.arange(w * h).reshape(h, w) * 255 // max(w * h - 1, 1)).astype(np.int64)
    px = (grad[:, :, None] + base[None, None, :] + rng.integers(0, 32, (h, w, 3))) % 256
    raw = px.astype(np.uint8).tobytes()
    blob = encode_bmp(w, h, raw) if fmt == "bmp" else encode_png(w, h, raw, 3)
    return blob, w, h, float(px.sum()) / px.size / 255.0


def _gen_llm(rng: np.random.Generator, p: dict, out: str) -> dict:
    vocab = _vocab(rng, p["vocab"])
    lo, hi = p["words"]
    docs: list[list[str]] = []
    kinds: list[str] = []
    for _ in range(p["base_docs"]):
        docs.append(list(vocab[rng.integers(0, len(vocab), rng.integers(lo, hi + 1))]))
        kinds.append("base")
    # Planted near-dup clusters: a base doc plus 1..max_cluster-1 variants,
    # each with one word substituted at its own position, so head-variant
    # word 3-gram Jaccard is >= 0.85 and variant-variant >= 0.73. The
    # engine's banded MinHash (4 bands x 2 rows) then misses a head edge at
    # most once in 170 and a variant pair at most once in 20, so no member
    # is three hops from another.
    heads = rng.choice(p["base_docs"], p["clusters"], replace=False)
    cluster_of = {int(h): c for c, h in enumerate(heads)}
    members: list[list[int]] = [[int(h)] for h in heads]
    for c, h in enumerate(heads):
        n_var = int(rng.integers(1, p["max_cluster"]))
        for pos in rng.choice(len(docs[h]), n_var, replace=False):
            v = list(docs[h])
            v[pos] = vocab[rng.integers(0, len(vocab))]
            members[c].append(len(docs))
            cluster_of[len(docs)] = c
            docs.append(v)
            kinds.append("dup")
    # Planted chains: a base doc, a middle with CHAIN_SUBS of its words
    # replaced, and an end with CHAIN_SUBS more replaced. Each hop is caught
    # as a candidate far more often than the two ends (Jaccard ~0.6 against
    # ~0.3), so with this many chains some minimum-id doc is almost surely
    # two hops from another member of its component, and a three-doc chain
    # can never make it three: connected components take 3 rounds on every
    # seed.
    free = np.setdiff1d(np.arange(p["base_docs"]), heads)
    for h in rng.choice(free, p["chains"], replace=False):
        chain = [int(h)]
        v = docs[h]
        pos = rng.choice(len(v), 2 * CHAIN_SUBS, replace=False)
        for hop in (pos[:CHAIN_SUBS], pos[CHAIN_SUBS:]):
            v = list(v)
            for q in hop:
                v[q] = vocab[rng.integers(0, len(vocab))]
            chain.append(len(docs))
            docs.append(v)
            kinds.append("dup")
        members.append(chain)
    # Planted low-quality docs: too short, repetitive, or punctuation-heavy.
    for i in range(p["low_quality"]):
        mode = i % 3
        if mode == 0:
            d = list(vocab[rng.integers(0, len(vocab), rng.integers(3, MIN_WORDS))])
        elif mode == 1:
            few = vocab[rng.integers(0, len(vocab), 3)]
            d = list(few[rng.integers(0, 3, rng.integers(lo, hi + 1))])
        else:
            d = [w + "!!!" for w in vocab[rng.integers(0, len(vocab), rng.integers(lo, hi + 1))]]
        docs.append(d)
        kinds.append("low")

    n = len(docs)
    ids = rng.permutation(np.arange(1, n + 1, dtype=np.int64)) * 13 + 5
    order = np.argsort(ids)
    table = pa.table({
        "doc_id": ids[order],
        "text": pa.array([" ".join(docs[i]) for i in order]),
    })
    _write_split(table, os.path.join(out, "docs"), p["doc_files"], p["doc_row_groups"])

    clusters = [sorted(int(ids[m]) for m in ms) for ms in members]
    low_ids = sorted(int(ids[i]) for i, k in enumerate(kinds) if k == "low")

    # Embeddings: random vectors plus planted groups of 2-4 tight neighbours.
    dim = 64
    nv = p["vectors"]
    vecs = rng.standard_normal((nv, dim))
    group_ids = rng.choice(nv, p["vec_groups"], replace=False)
    vec_groups = []
    nxt = nv
    extra = []
    for g in group_ids:
        grp = [int(g)]
        for _ in range(int(rng.integers(1, 4))):
            extra.append(vecs[g] + rng.standard_normal(dim) * 0.05 * np.linalg.norm(vecs[g]) / 8)
            grp.append(nxt)
            nxt += 1
        vec_groups.append(grp)
    vecs = np.vstack([vecs, np.array(extra)]).astype(np.float32)
    vids = rng.permutation(np.arange(1, len(vecs) + 1, dtype=np.int64)) * 11 + 1
    vorder = np.argsort(vids)
    flat = pa.array(vecs[vorder].reshape(-1))
    emb = pa.table({
        "vec_id": vids[vorder],
        "embedding": pa.FixedSizeListArray.from_arrays(flat, dim).cast(pa.list_(pa.float32())),
    })
    _write_split(emb, os.path.join(out, "embeddings"), 8, 2)
    vec_pairs = sorted(
        (min(a, b), max(a, b))
        for grp in vec_groups
        for i, x in enumerate(grp)
        for y in grp[i + 1:]
        for a, b in [(int(vids[x]), int(vids[y]))]
    )

    # Image payloads on a subset of docs, alternating BMP and PNG.
    img_docs = np.sort(rng.choice(table["doc_id"].to_numpy(), p["images"], replace=False))
    blobs, truth = [], {}
    for i, d in enumerate(img_docs):
        blob, w, h, luma = _image(rng, "bmp" if i % 2 == 0 else "png")
        blobs.append(blob)
        truth[str(int(d))] = [w, h, luma]
    imgs = pa.table({"doc_id": img_docs.astype(np.int64), "payload": pa.array(blobs, pa.binary())})
    _write_split(imgs, os.path.join(out, "images"), 8, 1)
    return {
        "rows": {"docs": n, "embeddings": len(vecs), "images": len(img_docs)},
        "clusters": clusters,
        "low_quality_ids": low_ids,
        "vec_pairs": vec_pairs,
        "images": truth,
    }


def generate(family: str, seed: int, scale: str, out: str) -> dict:
    """Write the inputs of ``family`` for ``seed``/``scale`` under ``out``
    (replacing anything there) and return the manifest."""
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    # Distinct streams per family, so both families are seeded independently.
    rng = np.random.default_rng([seed, {"etl": 1, "llm": 2}[family]])
    params = SCALES[scale][family]
    manifest = (_gen_etl if family == "etl" else _gen_llm)(rng, params, out)
    manifest.update(family=family, seed=seed, scale=scale, input_bytes=_dir_bytes(out))
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def ensure(family: str, seed: int, scale: str, cache_root: str) -> tuple[str, dict]:
    """Cached ``generate``: inputs live at
    cache_root/<family>-s<seed>-<scale>-<digest of this file and the scale's
    parameters>
    and are reused while their manifest exists (written last)."""
    with open(__file__, "rb") as f:
        digest = hashlib.sha256(f.read())
    digest.update(json.dumps(SCALES[scale][family], sort_keys=True).encode())
    out = os.path.join(cache_root, f"{family}-s{seed}-{scale}-{digest.hexdigest()[:10]}")
    path = os.path.join(out, "manifest.json")
    if os.path.exists(path):
        with open(path) as f:
            return out, json.load(f)
    tmp = out + ".tmp"
    manifest = generate(family, seed, scale, tmp)
    if os.path.exists(out):
        shutil.rmtree(out)
    os.rename(tmp, out)
    return out, manifest
