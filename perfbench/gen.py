"""Seeded input generators for the benchmark.

Every generator is a pure function of (seed, size): the same seed gives
byte-identical inputs. The program under test only ever sees the files
written here.

- `tables`: the ten harness tables (TPC-H-ish star schema, `events`,
  `documents`, `embeddings`) with the schemas and value ranges of the
  repository's fixture data, scaled by a scale factor.
- `ingest_docs`: the `documents` stream for the ingest workload, in
  `doc_id` order, with a seeded share of exact and near-copy re-crawls
  that carry fresh, higher ids.
- `camvid`: a CamVid-shaped labelled-image corpus (image PNG, colour mask
  PNG in the label colours, `labels_<id>.csv`, `meta_<id>.json`).
"""
import itertools
import json
import os
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
PART_WORDS = ("anvil blue bolt cold gear gizmo hot large new old plate red "
              "ring rod small widget").split()
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000


def _ts(days_since_epoch):
    return pa.array(np.asarray(days_since_epoch, dtype=np.int64) * DAY_US,
                    type=pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _texts(rng, n, dup_frac):
    """n documents over VOCAB; a `dup_frac` share copy an earlier text with
    a trailing ' dup' word (the fixture data's near-duplicate shape)."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    for i in np.flatnonzero(rng.random(n) < dup_frac):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return texts


def documents(rng, n):
    texts = _texts(rng, n, 0.05)
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    }


def tables(out_dir, sf, seed, n_docs, n_vecs):
    """Write the ten harness tables at scale factor `sf`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    pk = np.arange(n_part, dtype=np.int64)
    w = rng.integers(0, len(PART_WORDS), (n_part, 2))
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in w]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(P_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 2))})
    d0 = 9131  # 1995-01-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": _ts(d0 + rng.integers(0, 2405, n_ord)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_line), 2)),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts(d0 + 1 + rng.integers(0, 2499, n_line))})
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + 19723 * DAY_US
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_us, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    _write(out_dir, "documents", documents(rng, n_docs))
    labels = rng.integers(0, 10, n_vecs)
    centres = rng.normal(0, 0.07 / 8, (10, 64))
    v = centres[labels] + rng.normal(0, 1, (n_vecs, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(v.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})


def ingest_docs(path, seed, n_docs, recrawl_frac):
    """The ingest stream: `n_docs` documents in id order; a `recrawl_frac`
    share of them are re-crawls of an earlier document, half exact copies
    (caught by the exact prefilter) and half near copies (one extra word),
    each under a fresh id higher than the original's."""
    rng = np.random.default_rng(seed)
    texts = _texts(rng, n_docs, 0.0)
    kind = np.zeros(n_docs, np.int8)
    for i in np.flatnonzero(rng.random(n_docs) < recrawl_frac):
        if i == 0:
            continue
        j = int(rng.integers(0, i))
        while kind[j] != 0:  # copy an original, never another copy
            j = int(rng.integers(0, i))
        exact = rng.random() < 0.5
        texts[i] = texts[j] if exact else texts[j] + " " + VOCAB[int(rng.integers(0, len(VOCAB)))]
        kind[i] = 1 if exact else 2
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "recrawl": pa.array(kind)}), path)


# CamVid-shaped corpus --------------------------------------------------------

CAMVID_LABELS = [("Animal", 64, 128, 64), ("Archway", 192, 0, 128),
                 ("Bicyclist", 0, 128, 192), ("Bridge", 0, 128, 64),
                 ("Building", 128, 0, 0), ("Car", 64, 0, 128),
                 ("CartLuggagePram", 64, 0, 192), ("Child", 192, 128, 64),
                 ("Column_Pole", 192, 192, 128), ("Fence", 64, 64, 128),
                 ("LaneMkgsDriv", 128, 0, 192), ("Pedestrian", 64, 64, 0),
                 ("Road", 128, 64, 128), ("Sidewalk", 0, 0, 192),
                 ("Sky", 128, 128, 128), ("Tree", 128, 128, 0)]
CAMVID_TAGS = ["tag_1", "tag_2", "tag_3", "tag_A", "tag_B"]


def png_rgb(w, h, rgb):
    """Encode an (h, w, 3) uint8 array as an 8-bit RGB PNG."""
    raw = b"".join(b"\x00" + rgb[y].tobytes() for y in range(h))

    def chunk(kind, data):
        body = kind + data
        return struct.pack(">I", len(data)) + body + struct.pack(">I", zlib.crc32(body))
    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b""))


def camvid(out_dir, seed, n_images, w, h):
    """Write `n_images` labelled images; returns {image_id: tags}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    colors = np.array([c[1:] for c in CAMVID_LABELS], np.uint8)
    # every 1- to 3-tag combination in turn, in a seeded order: any tag
    # filter then selects the same number of images for every seed
    combos = [c for k in (1, 2, 3) for c in itertools.combinations(CAMVID_TAGS, k)]
    combos = [combos[j] for j in rng.permutation(len(combos))]
    tags = {}
    yy, xx = np.mgrid[0:h, 0:w]
    for i in range(n_images):
        iid = f"{i:05d}TP"
        # a handful of axis-aligned class regions over a sky background
        cls = np.full((h, w), 14, np.int64)
        for _ in range(int(rng.integers(3, 8))):
            x0, y0 = rng.integers(0, w - 4), rng.integers(0, h - 4)
            x1, y1 = x0 + rng.integers(4, w // 2), y0 + rng.integers(4, h // 2)
            cls[(yy >= y0) & (yy < y1) & (xx >= x0) & (xx < x1)] = rng.integers(0, 16)
        img = (colors[cls].astype(np.int16)
               + rng.integers(-20, 21, (h, w, 3))).clip(0, 255).astype(np.uint8)
        with open(os.path.join(out_dir, f"image_{iid}.png"), "wb") as f:
            f.write(png_rgb(w, h, img))
        with open(os.path.join(out_dir, f"mask_{iid}.png"), "wb") as f:
            f.write(png_rgb(w, h, colors[cls]))
        with open(os.path.join(out_dir, f"labels_{iid}.csv"), "w") as f:
            f.write("label,R,G,B\n")
            f.writelines(f"{n},{r},{g},{b}\n" for n, r, g, b in CAMVID_LABELS)
        t = list(combos[i % len(combos)]) + ["semantically-labeled"]
        tags[iid] = t
        with open(os.path.join(out_dir, f"meta_{iid}.json"), "w") as f:
            json.dump({"dataset": "CamVid", "tags": t}, f)
    return tags
