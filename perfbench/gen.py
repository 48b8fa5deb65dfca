"""Seeded input generators for the perfbench workloads.

Every generator is a pure function of its numpy ``Generator`` and its size
parameters, writes parquet with pyarrow (no Spark involved), and returns the
in-memory arrays the correctness checks compare against, so the engine only
ever sees the generated tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def write_table(path: str, columns: dict, parts: int = 1) -> dict:
    """Write ``columns`` as ``parts`` parquet files under directory ``path``
    (one file per Spark input partition); returns row and byte counts."""
    table = pa.table(columns)
    os.makedirs(path)
    n = table.num_rows
    size = 0
    for i in range(parts):
        lo, hi = i * n // parts, (i + 1) * n // parts
        f = os.path.join(path, f"part-{i:03d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), f)
        size += os.path.getsize(f)
    return {"rows": n, "bytes": size}


def vocabulary(rng: np.random.Generator, n_words: int) -> np.ndarray:
    """Distinct lowercase alphabetic words of 3-9 letters."""
    words: set[str] = set()
    while len(words) < n_words:
        lens = rng.integers(3, 10, n_words)
        letters = rng.choice(_LETTERS, size=(n_words, 9))
        words.update("".join(row[:n]) for row, n in zip(letters, lens))
    return np.array(sorted(words)[:n_words])


# -- documents for the flagship ingest ------------------------------------

def uniform_documents(rng: np.random.Generator, n_docs: int, words_per_doc: int = 60,
                      vocab_size: int = 4000) -> dict:
    """``documents(doc_id, text)``: distinct seeded ids and alphabetic text.

    The engine derives each document's spans and image points from
    ``doc_id`` alone (sources/docs.py, sources/geo.py), so seeded ids give
    seeded, near-uniform points.
    """
    doc_id = np.cumsum(rng.integers(1, 5000, n_docs)).astype(np.int64)
    vocab = vocabulary(rng, vocab_size)
    idx = rng.integers(0, len(vocab), (n_docs, words_per_doc))
    text = [" ".join(vocab[row]) for row in idx]
    return {"doc_id": doc_id, "text": np.array(text, dtype=object)}


def image_span_points(doc_id: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_id, lat, lng) of every image span, re-derived from the span rule
    (``4 + doc_id % 5`` spans, every third one an image) and the integer geo
    key ``doc_id * 31 + offset`` written out in numpy."""
    n_spans = 4 + doc_id % 5
    offsets = [np.arange(2, n, 3) for n in n_spans]
    counts = np.array([len(o) for o in offsets])
    ids = np.repeat(doc_id, counts)
    key = ids * 31 + np.concatenate(offsets)
    lat = (key * 7919 % 16000) / 100.0 - 80.0
    lng = (key * 104729 % 36000) / 100.0 - 180.0
    return ids, lat, lng


# -- hotspot points and concave polygons ----------------------------------

def hotspot_points(rng: np.random.Generator, n: int, metros: np.ndarray,
                   hot_share: float = 0.8) -> tuple[np.ndarray, np.ndarray]:
    """``n`` points: ``hot_share`` Gaussian around the metros (Zipf-weighted,
    so a few metros are much hotter), the rest uniform on the sphere
    between latitudes -80 and 80."""
    n_hot = int(round(n * hot_share))
    weights = 1.0 / np.arange(1, len(metros) + 1) ** 1.1
    which = rng.choice(len(metros), n_hot, p=weights / weights.sum())
    c_lat, c_lng, sigma = metros[which, 0], metros[which, 1], metros[which, 2]
    lat_h = c_lat + rng.normal(0.0, 1.0, n_hot) * sigma
    lng_h = c_lng + rng.normal(0.0, 1.0, n_hot) * sigma / np.cos(np.radians(c_lat))
    s = np.sin(np.radians(80.0))
    lat_u = np.degrees(np.arcsin(rng.uniform(-s, s, n - n_hot)))
    lng_u = rng.uniform(-180.0, 180.0, n - n_hot)
    lat = np.clip(np.concatenate([lat_h, lat_u]), -85.0, 85.0)
    lng = (np.concatenate([lng_h, lng_u]) + 180.0) % 360.0 - 180.0
    order = rng.permutation(n)
    return lat[order], lng[order]


def stratified(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """``n`` evenly spaced values in [lo, hi] in seeded order: every seed gets
    the same spread of sizes, only their placement changes."""
    return rng.permutation(np.linspace(lo, hi, n))


def metros(rng: np.random.Generator, n_metros: int) -> np.ndarray:
    """(lat, lng, sigma_deg) rows of the hot metros."""
    lat = rng.uniform(-55.0, 60.0, n_metros)
    lng = rng.uniform(-170.0, 170.0, n_metros)
    sigma = stratified(rng, 0.15, 0.6, n_metros)
    return np.stack([lat, lng, sigma], axis=1)


def star_polygons(rng: np.random.Generator, n_polys: int, metros: np.ndarray,
                  min_vertices: int = 6, max_vertices: int = 40) -> list[np.ndarray]:
    """Concave star-shaped polygons near the metros, as (m, 2) lat/lng
    vertex arrays in counter-clockwise order (interior on the left). Vertex
    counts and sizes are stratified over the polygons."""
    polys = []
    counts = stratified(rng, min_vertices, max_vertices, n_polys).round().astype(int)
    sizes = stratified(rng, 0.1, 0.8, n_polys)
    for m, size in zip(counts, sizes):
        c = metros[rng.integers(0, len(metros))]
        clat = c[0] + rng.normal(0.0, c[2])
        clng = c[1] + rng.normal(0.0, c[2])
        theta = (np.arange(m) + rng.uniform(0.1, 0.9, m)) * (2 * np.pi / m)
        radius = size * rng.uniform(0.35, 1.0, m)
        lat = clat + radius * np.sin(theta)
        lng = clng + radius * np.cos(theta) / np.cos(np.radians(clat))
        polys.append(np.stack([lat, lng], axis=1))
    return polys


def polygon_text(vertices: np.ndarray) -> str:
    """S2TextFormat loop text ('lat:lng, ...'); repr floats round-trip."""
    return ", ".join(f"{float(a)!r}:{float(b)!r}" for a, b in vertices)


# -- near-duplicate document families -------------------------------------

def dup_families(rng: np.random.Generator, n_docs: int, hot_family_sizes: list[int],
                 zipf_a: float = 2.0, max_family: int = 200, exact_share: float = 0.3,
                 mutate_share: float = 0.08, short_share: float = 0.01,
                 words: tuple[int, int] = (25, 60), vocab_size: int = 20000) -> dict:
    """``documents(doc_id, text)`` in near-duplicate families.

    Family sizes are Zipf(``zipf_a``) capped at ``max_family``, plus the
    ``hot_family_sizes`` (the hot LSH bands); the size profile is drawn from
    a fixed generator, so it is the same for every seed and only the words
    change. In a family, ``exact_share``
    of the members copy the family's base text exactly and the rest
    replace ``mutate_share`` of its words. ``short_share`` of the docs are
    singletons with fewer than 3 alphabetic words (digits and punctuation
    around them), which the engine's tokenizer leaves without shingles.
    """
    vocab = vocabulary(rng, vocab_size)
    n_short = int(round(n_docs * short_share))
    sizes = list(hot_family_sizes)
    total = sum(sizes) + n_short
    profile = np.random.default_rng(0)
    while total < n_docs:
        s = int(min(profile.zipf(zipf_a), max_family, n_docs - total))
        sizes.append(s)
        total += s
    texts, family = [], []
    for fam, size in enumerate(sizes):
        base = vocab[rng.integers(0, len(vocab), rng.integers(*words))]
        base_text = " ".join(base)
        for _ in range(size):
            if rng.random() < exact_share:
                texts.append(base_text)
            else:
                w = base.copy()
                hit = rng.random(len(w)) < mutate_share
                w[hit] = vocab[rng.integers(0, len(vocab), int(hit.sum()))]
                texts.append(" ".join(w))
            family.append(fam)
    n_fam = len(sizes)
    for i in range(n_short):
        k = int(rng.integers(0, 3))
        alpha = " ".join(vocab[rng.integers(0, len(vocab), k)])
        texts.append(f"{rng.integers(0, 10**6)} {alpha} #{i}")
        family.append(n_fam + i)
    order = rng.permutation(len(texts))
    return {
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": np.array(texts, dtype=object)[order],
        "family": np.array(family, dtype=np.int64)[order],
        "n_short": n_short,
        "n_families": n_fam + n_short,
        "max_family": max(sizes),
    }
