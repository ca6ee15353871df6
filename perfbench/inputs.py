"""Seeded input generators and engine-independent reference answers.

Every workload's inputs are made from ``--seed`` alone with NumPy, written
as plain parquet under the benchmark's cache directory, and read by the
program through ``spark.read.parquet``. The reference answer for each
output is computed once per (workload, seed, size) with DuckDB SQL over
the same parquet files and cached next to them as an order-independent
digest (:func:`digest`), so a run compares digests only.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- digests ------------------------------------------------------------------


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, (bytes, bytearray)):
        return hashlib.md5(v).hexdigest()
    if isinstance(v, np.generic):
        return _norm(v.item())
    return v


def digest(cols, rows) -> str:
    """Order-independent digest of a result: the row count plus the sum
    (mod 2^64) of a 64-bit hash of each row, columns taken in sorted-name
    order and floats rounded to 6 places (the repo's oracle convention)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    total = 0
    n = 0
    for r in rows:
        key = repr(tuple(_norm(r[i]) for i in order)).encode()
        total = (total + int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "little")) % (1 << 64)
        n += 1
    return f"{n}:{total:016x}"


def _write(path: str, table: dict) -> None:
    pq.write_table(pa.table(table), path)


def _ddb(con, sql: str) -> str:
    res = con.execute(sql)
    return digest([c[0] for c in res.description], res.fetchall())


# -- tile_pyramid -------------------------------------------------------------

# The reference's ``polygon`` layer on swissgrid_5 (config.LAYERS): the
# rectangle the pyramid renders, the grid bbox and resolutions.
POLY = (530000.0, 150000.0, 600000.0, 200000.0)
GRID_BBOX = (420000.0, 30000.0, 900000.0, 350000.0)
RESOLUTIONS = (100.0, 50.0, 20.0, 10.0, 5.0)
TILE_PX = 256

TILE = {
    "zooms": [0, 1],
    "images": 40_000,
    "hotspot_share": 0.6,  # of images, N(hotspot, 2 km) around a city centre
    "hotspot": (565000.0, 175000.0, 2000.0),
    "queries": 200,
    "knn_zoom": 4,
    "knn_k": 5,
}


def make_tile_inputs(d: str, seed: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    n = TILE["images"]
    hot = rng.random(n) < TILE["hotspot_share"]
    cx, cy, sd = TILE["hotspot"]
    x = np.where(hot, rng.normal(cx, sd, n), rng.uniform(POLY[0], POLY[2], n))
    y = np.where(hot, rng.normal(cy, sd, n), rng.uniform(POLY[1], POLY[3], n))
    x = np.round(np.clip(x, GRID_BBOX[0], GRID_BBOX[2] - 1), 2)
    y = np.round(np.clip(y, GRID_BBOX[1] + 1, GRID_BBOX[3]), 2)
    words = np.array(["street", "park", "river", "roof", "bridge", "square", "tower", "lake"])
    cap = words[rng.integers(0, len(words), n)]
    _write(os.path.join(d, "images.parquet"), {
        "image_id": np.arange(n, dtype=np.int64),
        "x": x, "y": y,
        "caption": [f"{c} {i}" for i, c in enumerate(cap)],
    })
    q = TILE["queries"]
    qhot = rng.random(q) < 0.5
    qx = np.where(qhot, rng.normal(cx, sd, q), rng.uniform(POLY[0] + 2000, POLY[2] - 2000, q))
    qy = np.where(qhot, rng.normal(cy, sd, q), rng.uniform(POLY[1] + 2000, POLY[3] - 2000, q))
    _write(os.path.join(d, "queries.parquet"), {
        "qid": np.arange(q, dtype=np.int64),
        "x": np.round(qx, 2), "y": np.round(qy, 2),
    })
    return {"images": int(n), "queries": int(q), "hotspot_images": int(hot.sum())}


def _tiles_sql(zooms) -> str:
    """Stored tiles of the polygon layer: every tile whose extent overlaps
    the rectangle's interior (its edges fall on no tile boundary at these
    resolutions, so every such tile holds painted pixels)."""
    parts = []
    for z in zooms:
        span = RESOLUTIONS[z] * TILE_PX
        x0 = math.floor((POLY[0] - GRID_BBOX[0]) / span)
        x1 = math.floor((POLY[2] - GRID_BBOX[0]) / span)
        y0 = math.floor((GRID_BBOX[3] - POLY[3]) / span)
        y1 = math.floor((GRID_BBOX[3] - POLY[1]) / span)
        parts.append(
            f"SELECT {z} AS z, x, y FROM range({x0}, {x1 + 1}) a(x), range({y0}, {y1 + 1}) b(y)"
        )
    return " UNION ALL ".join(parts)


def _span_sql(z: str) -> str:
    cases = " ".join(f"WHEN {i} THEN {r * TILE_PX!r}" for i, r in enumerate(RESOLUTIONS))
    return f"(CASE {z} {cases} END)"


def tile_reference(con, d: str) -> dict:
    zooms = TILE["zooms"]
    con.execute(f"CREATE OR REPLACE VIEW images AS SELECT * FROM '{d}/images.parquet'")
    con.execute(f"CREATE OR REPLACE VIEW queries AS SELECT * FROM '{d}/queries.parquet'")
    zl = ", ".join(str(z) for z in zooms)
    minx, _, _, maxy = GRID_BBOX
    joined = f"""
        WITH tiles AS ({_tiles_sql(zooms)}),
        a AS (
          SELECT z, CAST(floor((x - {minx!r}) / {_span_sql('z')}) AS INTEGER) AS tx,
                    CAST(floor(({maxy!r} - y) / {_span_sql('z')}) AS INTEGER) AS ty
          FROM images, (SELECT unnest([{zl}]) AS z)
        )
        SELECT t.z, t.x, t.y, count(*) AS n_images
        FROM a JOIN tiles t ON t.z = a.z AND t.x = a.tx AND t.y = a.ty
        GROUP BY t.z, t.x, t.y
    """
    knn = f"""
        SELECT qid, image_id, rank FROM (
          SELECT q.qid, i.image_id,
                 row_number() OVER (PARTITION BY q.qid
                   ORDER BY sqrt((i.x - q.x) ** 2 + (i.y - q.y) ** 2), i.image_id) AS rank
          FROM queries q JOIN images i
            ON abs(i.x - q.x) < 2000 AND abs(i.y - q.y) < 2000
        ) WHERE rank <= {TILE['knn_k']}
    """
    return {
        "tiles": _ddb(con, f"SELECT z, x, y FROM ({_tiles_sql(zooms)})"),
        "joined": _ddb(con, joined),
        "knn": _ddb(con, knn),
    }


# -- text_admission -----------------------------------------------------------

# The sf0.1 documents table draws every language's text from this same
# 31-word vocabulary, 10..100 tokens a document; the language shares are
# its label shares. The generator resamples words per document from it.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANG_SHARES = {"en": 0.412, "fr": 0.148, "es": 0.149, "de": 0.140, "zh": 0.151}

TEXT = {
    "docs": 800,
    # injected by __spark_entry__._corpus_inputs from doc_id alone:
    "pii_share": 1 / 4,  # doc_id % 4 == 0 carries an e-mail address
    "exact_clone_share": 1 / 23,  # doc_id % 23 == 7 copies the previous body
    "near_clone_share": 1 / 17,  # doc_id % 17 == 5 copies it plus one word
    "eval_overlap_share": 1 / 40,  # doc_id % 40 == 0 feeds the eval set
}


def make_text_inputs(d: str, seed: int) -> dict:
    rng = np.random.default_rng([seed, 2])
    n = TEXT["docs"]
    langs = list(LANG_SHARES)
    p = np.array([LANG_SHARES[k] for k in langs])
    lang = np.array(langs)[rng.choice(len(langs), n, p=p / p.sum())]
    lens = rng.integers(10, 101, n)
    vocab = np.array(VOCAB)
    text = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    _write(os.path.join(d, "documents.parquet"), {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": lang,
    })
    return {"docs": int(n), "tokens": int(lens.sum())}


def text_reference(con, d: str) -> dict:
    import __spark_entry__ as E

    con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    # the gate's oracle text, with the edge table materialized: DuckDB
    # inlines CTEs, so the recursive reach would otherwise recompute the
    # whole LSH pair chain on every iteration (4x slower, same answer)
    sql = E.oracle_sql()["corpus_admission"].replace(
        "caedges AS (", "caedges AS MATERIALIZED (", 1)
    return {"admission": _ddb(con, sql)}


# -- image_admission_staged ---------------------------------------------------

IMAGE = {
    "images": 6_000,
    "exact_dup_share": 0.04,  # phash copied from an earlier image
    "near_dup_share": 0.08,  # earlier phash with 1-6 bits flipped
    "caption_repost_share": 0.04,  # caption copied from an earlier image
    "eval_images": 200,
    "eval_overlap_share": 0.5,  # of eval: a corpus phash with 0-2 bits flipped
    "dedup_hamming": 6,
    "decontam_hamming": 2,
    "batch_size": 8,
}


def make_image_inputs(d: str, seed: int) -> dict:
    rng = np.random.default_rng([seed, 3])
    n = IMAGE["images"]
    ph = rng.integers(0, 1 << 63, n, dtype=np.int64) ^ (rng.integers(0, 2, n, dtype=np.int64) << 63)
    kind = rng.random(n)
    e, nd, cr = IMAGE["exact_dup_share"], IMAGE["near_dup_share"], IMAGE["caption_repost_share"]
    src = (rng.random(n) * np.arange(n)).astype(np.int64)  # an earlier image
    exact = (kind < e) & (np.arange(n) > 0)
    near = (kind >= e) & (kind < e + nd) & (np.arange(n) > 0)
    repost = (kind >= e + nd) & (kind < e + nd + cr) & (np.arange(n) > 0)
    flips = np.zeros(n, dtype=np.uint64)
    for i in np.flatnonzero(near):
        for b in rng.choice(64, int(rng.integers(1, 7)), replace=False):
            flips[i] |= np.uint64(1) << np.uint64(b)
    ph = ph.view(np.uint64).copy()
    for i in np.flatnonzero(exact | near):  # in id order: a copy of a copy chains
        ph[i] = ph[src[i]] ^ flips[i]
    ph = ph.view(np.int64)
    caption = [f"photo {i}" for i in range(n)]
    for i in np.flatnonzero(repost):
        caption[i] = caption[src[i]]
    w = rng.integers(200, 1400, n).astype(np.int32)
    h = rng.integers(200, 1400, n).astype(np.int32)
    _write(os.path.join(d, "images.parquet"), {
        "image_id": np.arange(n, dtype=np.int64), "w": w, "h": h,
        "caption": caption, "phash": ph,
    })
    ne = IMAGE["eval_images"]
    overlap = rng.random(ne) < IMAGE["eval_overlap_share"]
    eph = rng.integers(0, 1 << 63, ne, dtype=np.int64)
    picks = rng.integers(0, n, ne)
    for j in np.flatnonzero(overlap):
        v = np.uint64(ph[picks[j]].view(np.uint64))
        for b in rng.choice(64, int(rng.integers(0, 3)), replace=False):
            v ^= np.uint64(1) << np.uint64(b)
        eph[j] = np.array([v], dtype=np.uint64).view(np.int64)[0]
    _write(os.path.join(d, "eval.parquet"), {"phash": eph})
    return {
        "images": int(n), "exact_dups": int(exact.sum()), "near_dups": int(near.sum()),
        "caption_reposts": int(repost.sum()), "eval": int(ne), "eval_overlap": int(overlap.sum()),
    }


def _blocks(radius: int):
    """Contiguous bit blocks for pigeonhole candidate generation: two
    hashes within ``radius`` bits agree on at least one of radius+1 blocks."""
    nb = radius + 1
    edges = [round(64 * i / nb) for i in range(nb + 1)]
    return list(zip(edges[:-1], edges[1:]))


def _block_key(col: str, lo: int, hi: int) -> str:
    mask = (1 << (hi - lo)) - 1
    return f"(({col} >> {lo}) & {mask})"


def image_reference(con, d: str) -> dict:
    from tilecloud_chain_spark.operators.image_curation import DEFAULT_BUCKETS

    con.execute(f"CREATE OR REPLACE VIEW imgs AS SELECT * FROM '{d}/images.parquet'")
    con.execute(f"CREATE OR REPLACE VIEW ev AS SELECT * FROM '{d}/eval.parquet'")
    r = IMAGE["dedup_hamming"]
    cand = " UNION ".join(
        f"SELECT a.image_id AS id_a, b.image_id AS id_b FROM imgs a JOIN imgs b "
        f"ON {_block_key('a.phash', lo, hi)} = {_block_key('b.phash', lo, hi)} "
        f"AND a.image_id < b.image_id WHERE bit_count(xor(a.phash, b.phash)) <= {r}"
        for lo, hi in _blocks(r)
    )
    rc = IMAGE["decontam_hamming"]
    contam = " UNION ".join(
        f"SELECT i.image_id FROM imgs i JOIN ev "
        f"ON {_block_key('i.phash', lo, hi)} = {_block_key('ev.phash', lo, hi)} "
        f"WHERE bit_count(xor(i.phash, ev.phash)) <= {rc}"
        for lo, hi in _blocks(rc)
    )
    buckets = ", ".join(f"({i}, {bw}, {bh})" for i, (bw, bh) in enumerate(DEFAULT_BUCKETS))
    bs = IMAGE["batch_size"]
    sql = f"""
        WITH RECURSIVE
        prs AS (
          {cand}
          UNION
          SELECT a.image_id, b.image_id FROM imgs a JOIN imgs b
            ON a.caption = b.caption AND a.image_id < b.image_id
        ),
        edges AS (SELECT id_a AS u, id_b AS w FROM prs UNION SELECT id_b, id_a FROM prs),
        reach(a, b) AS (
          SELECT u, w FROM edges
          UNION
          SELECT r.a, e.w FROM reach r JOIN edges e ON r.b = e.u
        ),
        comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a),
        ct AS ({contam}),
        flags AS (
          SELECT i.image_id, i.w, i.h, TRUE AS clip_keep,
                 ct.image_id IS NOT NULL AS contaminated,
                 COALESCE(c.component, i.image_id) = i.image_id AS dedup_keep
          FROM imgs i
          LEFT JOIN comp c ON c.id = i.image_id
          LEFT JOIN (SELECT DISTINCT image_id FROM ct) ct USING (image_id)
        ),
        f2 AS (SELECT *, dedup_keep AND NOT contaminated AS admitted FROM flags),
        bsel AS (SELECT * FROM (VALUES {buckets}) t(idx, bw, bh)),
        assigned AS (
          SELECT image_id, idx, ROW_NUMBER() OVER (
                   PARTITION BY image_id
                   ORDER BY abs(CAST(w AS DOUBLE) / h - CAST(bw AS DOUBLE) / bh), idx) AS rn
          FROM f2 CROSS JOIN bsel
        ),
        one AS (SELECT image_id, idx AS bucket FROM assigned WHERE rn = 1),
        ranked AS (
          SELECT f.image_id, o.bucket,
                 CASE WHEN f.admitted THEN ROW_NUMBER() OVER (
                   PARTITION BY o.bucket, f.admitted ORDER BY f.image_id) - 1 END AS rank
          FROM f2 f JOIN one o USING (image_id)
        )
        SELECT r.image_id, f.clip_keep, f.contaminated, f.dedup_keep, f.admitted, r.bucket,
               CASE WHEN f.admitted THEN r.rank // {bs} END AS batch_index,
               CASE WHEN f.admitted THEN r.rank % {bs} END AS slot
        FROM ranked r JOIN f2 f USING (image_id)
    """
    return {"admission": _ddb(con, sql)}


# -- cache ----------------------------------------------------------------------

MAKERS = {
    "tile_pyramid": (make_tile_inputs, tile_reference, TILE),
    "text_admission": (make_text_inputs, text_reference, TEXT),
    "image_admission_staged": (make_image_inputs, image_reference, IMAGE),
}


def prepare(cache: str, workload: str, seed: int) -> tuple[str, dict, dict]:
    """Inputs directory, generation summary and reference digests for one
    (workload, seed, size); generated and computed on first use only."""
    import duckdb

    make, reference, sizes = MAKERS[workload]
    tag = hashlib.md5(json.dumps(sizes, sort_keys=True).encode()).hexdigest()[:8]
    d = os.path.join(cache, "inputs", f"{workload}-s{seed}-{tag}")
    meta = os.path.join(d, "reference.json")
    if os.path.exists(meta):
        with open(meta) as f:
            got = json.load(f)
        return d, got["summary"], got["digests"]
    os.makedirs(d, exist_ok=True)
    summary = make(d, seed)
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {os.cpu_count() or 1}")
        digests = reference(con, d)
    finally:
        con.close()
    tmp = f"{meta}.tmp"
    with open(tmp, "w") as f:
        json.dump({"summary": summary, "digests": digests}, f)
    os.replace(tmp, meta)
    return d, summary, digests
